"""Fixed-size block assembly + binary block sink (operators W3/W4/S5/P7).

Reference semantics: contiguous segments are cut into fixed row-count
chunks (``/root/reference/processor/writer.py:46-48``), each chunk gets
frame bounds from its first/last sample (``:50-51``) and lands as one
binary object keyed ``channel-NNNNN_{start}_{end}`` (``:90-95``).

Here a "channel" is a doc's token stream; a block is ``block_size``
consecutive samples, compressed with the delta-of-delta codec
(functions/codec.py) into a ``BinaryType`` column. Block assembly is a
**narrow map** (slices within one row's array) — no shuffle; blocks of a
doc never span rows. The sink partitions by ``(source, bucket)`` so scans
prune by source and the bucket count bounds task skew.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.codec import dod_decode_array, dod_encode_array
from ..sources.synth import SEQ_SCHEMA

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("block_no", T.IntegerType(), False),
        T.StructField("start_idx", T.LongType(), False),
        T.StructField("end_idx", T.LongType(), False),  # half-open, ref convention
        T.StructField("n", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)


def to_blocks(seq_df: DataFrame, block_size: int = 131_072) -> DataFrame:
    """Sequences -> one row per (doc, block), payload = DoD-compressed.

    Default block_size mirrors the reference default chunk of
    CHUNK_SIZE_MB·2^20/8 = 131072 samples (``/root/reference/processor/main.py:18-20``).
    Adds the reference-shaped object key via ``block_key``. An empty doc
    gets one empty block (``block_no`` 0, ``start_idx = end_idx = n = 0``)
    so ``from_blocks`` returns it and its work unit is checkpointed; a
    NULL ``tokens`` row raises ``ValueError`` naming the doc.
    """

    def cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc, src, toks in zip(pdf["doc_id"], pdf["source"], pdf["tokens"]):
                if toks is None:
                    raise ValueError(f"NULL tokens for doc_id {doc!r}")
                a = np.asarray(toks, dtype=np.int32)
                n = len(a)
                for b, start in enumerate(range(0, max(n, 1), block_size)):
                    end = min(start + block_size, n)
                    rows.append(
                        (doc, src, b, start, end, end - start, dod_encode_array(a[start:end]))
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in BLOCK_SCHEMA.fields])

    return seq_df.mapInPandas(cut, schema=BLOCK_SCHEMA)


def block_key(blocks_df: DataFrame) -> DataFrame:
    """Operator P7: reference-shaped object key
    ``{doc}_{start}_{end}.bin`` (cf. channel-%05d_%d_%d naming,
    ``/root/reference/processor/writer.py:90-95``)."""
    return blocks_df.withColumn(
        "key", F.format_string("%s_%012d_%012d.bin", "doc_id", "start_idx", "end_idx")
    )


def from_blocks(blocks_df: DataFrame) -> DataFrame:
    """Decode + reassemble blocks -> sequences (round-trip/read path).

    One shuffle (regroup blocks of a doc), deterministic in-group order by
    block_no before concatenation (SURVEY §7 determinism rule).

    r6 shape: collect_list + ONE batched decode kernel instead of
    per-group ``applyInPandas`` — the grouped form built a pandas frame
    per doc (~1 ms of pure overhead each; 5000 docs cost more than the
    decode itself). ``sort_array`` over (block_no, payload) structs
    gives the same block_no order (block_no is unique per doc), the
    group state is bounded by one doc's payload either way, and the
    kernel loops docs of a whole Arrow batch. The kernel stays columnar
    on both sides: it decodes the ``payload`` child of the flattened
    ``_blocks`` lists and builds ``tokens`` from the decoded values and
    per-doc offsets, with no pandas frame.
    """
    g = blocks_df.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("block_no", "payload"))).alias("_blocks"),
        F.first("source").alias("source"),
    )

    def assemble(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            blocks = batch.column("_blocks")
            # list_flatten and list_value_length respect a sliced batch
            parts = [dod_decode_array(b) for b in
                     pc.list_flatten(blocks).field("payload").to_pylist()]
            lens = pc.list_value_length(blocks).to_numpy()
            # token offset of every block start, then of every doc start
            at_block = np.concatenate([[0], np.cumsum([len(p) for p in parts], dtype=np.int64)])
            offsets = at_block[np.concatenate([[0], np.cumsum(lens)])]
            values = np.concatenate(parts) if parts else np.empty(0, np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values),
                    pa.array(np.diff(offsets), pa.int32()),
                    batch.column("source"),
                ],
                names=[f.name for f in SEQ_SCHEMA.fields],
            )

    return g.mapInArrow(assemble, schema=SEQ_SCHEMA)
