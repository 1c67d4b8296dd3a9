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

Both directions have the shape of the explicit-timestamp path
(``operators/irregular.py``): the block bounds and slices are array
expressions, and Python runs only the codec UDFs. Cutting is a narrow
map (no shuffle; blocks of a doc never span rows). Reassembly
(``_reassemble``, shared with ``irregular_from_blocks``) is one shuffle
on ``doc_id`` and a sorted ``collect_list``/``flatten`` per doc, the one
place the ordered-assembly rule (L2) lives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.codec import dod_decode, dod_encode

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
    """Sequences -> one row per (doc, block), payload = DoD-compressed,
    columns as ``BLOCK_SCHEMA``.

    Default block_size mirrors the reference default chunk of
    CHUNK_SIZE_MB·2^20/8 = 131072 samples (``/root/reference/processor/main.py:18-20``).
    Adds the reference-shaped object key via ``block_key``. An empty doc
    gets one empty block (``block_no`` 0, ``start_idx = end_idx = n = 0``)
    so ``from_blocks`` returns it and its work unit is checkpointed; a
    NULL ``tokens`` row raises naming the doc.

    The bounds come from one ``posexplode(sequence(...))``, in bigint so
    no offset overflows int32 under ANSI mode; Python runs only
    ``codec.dod_encode``. ``_chunk`` is projected once and read three
    times, so the optimizer keeps the slice next to the explode instead
    of inlining it into the UDF's input: the rows queued for the UDF
    carry their block, not the doc's whole array, and a doc of k blocks
    is copied once, not k times.
    """
    n = F.size("tokens").cast("long")
    start = F.col("start_idx")
    bounds = F.sequence(F.lit(0).cast("long"), F.greatest(n, F.lit(1).cast("long")) - 1,
                        F.lit(block_size).cast("long"))
    return (
        seq_df.filter(
            F.when(
                F.col("tokens").isNull(),
                F.raise_error(F.format_string("NULL tokens for doc_id '%s'", "doc_id")),
            ).otherwise(F.lit(True))
        )
        .select("doc_id", "source", "tokens", F.posexplode(bounds).alias("block_no", "start_idx"))
        .select("doc_id", "source", "block_no", "start_idx",
                F.slice("tokens", (start + 1).cast("int"), block_size).alias("_chunk"))
        .select(
            "doc_id",
            "source",
            "block_no",
            "start_idx",
            (start + F.size("_chunk")).alias("end_idx"),
            F.size("_chunk").alias("n"),
            dod_encode("_chunk").alias("payload"),
        )
    )


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
