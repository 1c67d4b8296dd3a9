"""Fixed-size block assembly + binary block sink (operators W3/W4/S5/P7).

Reference semantics: contiguous segments are cut into fixed row-count
chunks (``/root/reference/processor/writer.py:46-48``), each chunk gets
frame bounds from its first/last sample (``:50-51``) and lands as one
binary object keyed ``channel-NNNNN_{start}_{end}`` (``:90-95``).

Here a "channel" is a doc's token stream; a block is ``block_size``
consecutive samples, compressed with the delta-of-delta codec
(functions/codec.py) into a ``BinaryType`` column. The sink partitions
by ``(source, bucket)`` so scans prune by source and the bucket count
bounds task skew.

Cutting is one Arrow kernel, ``block_batch`` (a narrow map: blocks of a
doc never span rows), run by ``to_blocks`` through ``mapInArrow`` and by
the pipeline in the same crossing as the tier kernel. Reassembly
(``_reassemble``, shared with ``irregular_from_blocks``) is one shuffle
on ``doc_id`` and a sorted ``collect_list``/``flatten`` per doc, the one
place the ordered-assembly rule (L2) lives.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.codec import dod_decode, dod_encode_array
from .rollup import _list_values

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


def block_batch(batch: pa.RecordBatch, block_size: int) -> pa.RecordBatch:
    """The block kernel: ``BLOCK_SCHEMA`` rows of the docs in ``batch``
    (``doc_id``, ``source``, ``tokens``), ``max(1, ceil(n / block_size))``
    per doc of ``n`` tokens. The bounds are numpy over the batch's
    offsets; each payload is one ``dod_encode_array`` call over a view of
    the batch's int32 values."""
    lengths, vals = _list_values(batch, "tokens")
    lengths = lengths.astype(np.int64)
    per_doc = np.maximum(1, -(-lengths // block_size))
    row = np.repeat(np.arange(len(lengths)), per_doc)
    block_no = np.arange(len(row)) - (np.cumsum(per_doc) - per_doc)[row]
    start = block_no * block_size
    end = np.minimum(start + block_size, lengths[row])
    base = (np.cumsum(lengths) - lengths)[row]
    payload = [dod_encode_array(vals[b + s : b + e]) for b, s, e in zip(base, start, end)]
    take = pa.array(row)
    cols = [batch.column("doc_id").take(take), batch.column("source").take(take),
            pa.array(block_no.astype(np.int32)), pa.array(start), pa.array(end),
            pa.array((end - start).astype(np.int32)), pa.array(payload, pa.binary())]
    return pa.RecordBatch.from_arrays(cols, names=BLOCK_SCHEMA.names)


def to_blocks(seq_df: DataFrame, block_size: int = 131_072) -> DataFrame:
    """Sequences -> one row per (doc, block), payload = DoD-compressed,
    columns as ``BLOCK_SCHEMA``: ``block_batch`` through ``mapInArrow``.

    Default block_size mirrors the reference default chunk of
    CHUNK_SIZE_MB·2^20/8 = 131072 samples (``/root/reference/processor/main.py:18-20``).
    Adds the reference-shaped object key via ``block_key``. An empty doc
    gets one empty block (``block_no`` 0, ``start_idx = end_idx = n = 0``)
    so ``from_blocks`` returns it and its work unit is checkpointed; a
    NULL ``tokens`` row raises naming the doc.
    """
    return seq_df.select("doc_id", "source", "tokens").mapInArrow(
        lambda batches: (block_batch(b, block_size) for b in batches if b.num_rows), BLOCK_SCHEMA)


def block_key(blocks_df: DataFrame) -> DataFrame:
    """Operator P7: reference-shaped object key
    ``{doc}_{start}_{end}.bin`` (cf. channel-%05d_%d_%d naming,
    ``/root/reference/processor/writer.py:90-95``)."""
    return blocks_df.withColumn(
        "key", F.format_string("%s_%012d_%012d.bin", "doc_id", "start_idx", "end_idx")
    )


def _reassemble(blocks_df: DataFrame, order: list[str], **arrays: Column) -> DataFrame:
    """(doc_id, <each of ``arrays``>, source): every block's ``arrays``
    concatenated per doc in ``order`` (unique within a doc). One shuffle
    on ``doc_id``; ``sort_array`` over ``(order..., arrays...)`` structs
    fixes the in-group order whatever order the blocks arrive in (SURVEY
    §7 determinism rule), and the group state is one doc's blocks."""
    block = F.struct(*order, *(c.alias(name) for name, c in arrays.items()))
    return (
        blocks_df.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(block)).alias("_b"), F.first("source").alias("source"))
        .select("doc_id", *(F.flatten(f"_b.{name}").alias(name) for name in arrays), "source")
    )


def from_blocks(blocks_df: DataFrame) -> DataFrame:
    """Decode + reassemble blocks -> sequences (doc_id, tokens, n_tok,
    source), the names and types of ``SEQ_SCHEMA``: ``codec.dod_decode``
    per block, then ``_reassemble`` in ``block_no`` order."""
    return _reassemble(blocks_df, ["block_no"], tokens=dod_decode("payload")).select(
        "doc_id", "tokens", F.size("tokens").alias("n_tok"), "source"
    )
