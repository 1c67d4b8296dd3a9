"""Sequence packing — mapping variable-length token documents into
fixed-length training examples (the GPT-style concat-and-chunk
convention: concatenate a source's documents in deterministic order,
cut the stream every ``ctx_len`` tokens; a document may straddle block
boundaries). The planning op every training-data pipeline needs between
"curated corpus" and "batched examples".

Spark-first shape: the wide operation is a TWO-PHASE distributed prefix
sum. A plain ``Window.partitionBy(source)`` cumsum puts an entire
source in ONE task (Spark never splits a window partition key), which
serializes a trillion-token single-source corpus. Instead each doc is
assigned an ORDER-PRESERVING bucket of its ``doc_id`` (string prefix,
or a min/max-ranged integer bucket), the cumsum window runs per
``(source, bucket)`` — parallelism = buckets, each task bounded — and
the cross-bucket base offsets come from a per-bucket token-count table
(|sources| × |buckets| rows, broadcast back). Because the bucket is a
monotone function of ``doc_id``, sorting by ``(bucket, doc_id)`` IS
sorting by ``doc_id``: the result is bit-identical to the single-window
semantics at any parallelism. Block spans then come from integer
arithmetic, and the per-block manifest is a JVM ``sequence`` explode (a
doc touches ``ceil`` of its span, almost always 1-2 blocks). No global
ordering: packing is per ``source``, which is the semantically right
unit (mixtures are composed per-source upstream — see
``sampling.hash_sample`` for rate control).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def order_bucket(df: DataFrame, id_col: str) -> tuple[DataFrame, str]:
    """Attach an order-preserving bucket column ``_bkt`` for ``id_col``:
    sorting by ``(_bkt, id)`` equals sorting by ``id`` alone, so a
    per-key window computation can be split into per-``(key, _bkt)``
    windows plus a tiny cross-bucket combine — the distributed
    prefix-sum primitive ``pack_offsets`` / ``stratified_sample`` build
    on.

    * string ids: the first 4 characters (a lexicographic
      prefix orders consistently with the full string). Bucket count —
      and thus parallelism — follows the id alphabet; zero-padded or
      uuid-ish ids spread uniformly, a shared long constant prefix
      degrades toward one bucket.
    * integral ids: ``floor((id - min) / width)`` with ``width`` sized
      from the (min, max) range for ~4096 buckets. The
      subtraction runs in DOUBLE: monotone (double conversion is
      order-preserving over longs; ties only coarsen buckets, never
      reorder), and immune to ANSI int64-overflow when the id range
      spans more than half the long domain. The 1-row min/max aggregate
      is broadcast in-plan (no driver collect).

    Returns (df_with_bucket, "_bkt")."""
    dtype = dict(df.dtypes)[id_col]
    if dtype == "string":
        return df.withColumn("_bkt", F.substring(F.col(id_col), 1, 4)), "_bkt"
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        mm = df.agg(
            F.min(id_col).cast("long").alias("_mn"),
            F.max(id_col).cast("long").alias("_mx"),
        )
        width = F.greatest(
            (
                (F.col("_mx").cast("double") - F.col("_mn").cast("double"))
                / F.lit(4096)
            ).cast("long")
            + 1,
            F.lit(1),
        )
        out = (
            df.crossJoin(F.broadcast(mm))
            .withColumn(
                "_bkt",
                F.floor(
                    (F.col(id_col).cast("double") - F.col("_mn").cast("double"))
                    / width
                ).cast("long"),
            )
            .drop("_mn", "_mx")
        )
        return out, "_bkt"
    raise TypeError(
        f"order_bucket: unsupported id type {dtype!r} for {id_col!r} "
        "(need string or integral for an order-preserving bucket)"
    )


def pack_offsets(seq: DataFrame, ctx_len: int) -> DataFrame:
    """Per-doc packed placement: (source, doc_id, n_tok, offset,
    first_block, last_block). ``offset`` is the exclusive running sum of
    token counts within the source (doc_id order); blocks are
    ``ctx_len``-token chunks of the concatenated stream. Zero-token docs
    contribute nothing and are dropped (they have no placement).

    Two-phase distributed cumsum (module docstring): phase 1 is a
    per-(source, bucket) exclusive window sum — each task owns one
    bucket, never a whole source; phase 2 derives each bucket's base
    offset from the per-bucket totals (a tiny frame: the cross-bucket
    window runs over |buckets| ROWS, not corpus rows) and broadcasts it
    back. Values are identical to the naive per-source window at any
    partitioning."""
    base, bkt = order_bucket(
        seq.filter(F.col("n_tok") > 0).select(
            F.col("source"),
            F.col("doc_id"),
            F.col("n_tok").cast("long").alias("n_tok"),
        ),
        "doc_id",
    )
    w_local = (
        Window.partitionBy("source", bkt)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local_off = (F.sum("n_tok").over(w_local) - F.col("n_tok")).cast("long")
    # per-bucket totals: |sources|·|buckets| rows — the ONLY place a
    # per-source ordered scan happens, and it is over bucket summaries
    w_bkt = (
        Window.partitionBy("source")
        .orderBy(bkt)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bases = (
        base.groupBy("source", bkt)
        .agg(F.sum("n_tok").alias("_bsum"))
        .select(
            "source",
            bkt,
            (F.sum("_bsum").over(w_bkt) - F.col("_bsum")).cast("long").alias("_base"),
        )
    )
    # no broadcast HINT: bases is |sources|·|buckets| rows — usually tiny
    # (AQE broadcasts it at runtime), but a many-sources corpus at a high
    # bucket count can cross the broadcast budget, and the big side is
    # already hash-partitioned on the join keys from the window, so a
    # forced broadcast is all downside when it doesn't fit
    return (
        base.withColumn("_loc", local_off)
        .join(bases, ["source", bkt])
        .select(
            "source",
            "doc_id",
            "n_tok",
            (F.col("_base") + F.col("_loc")).alias("offset"),
        )
        # integer `div`, not double `/`: offsets at trillion-token scale
        # pass 2^53 and a through-a-double quotient can land one block
        # off (the same exactness rule interval.py/resample.py follow)
        .withColumn("first_block", F.expr(f"offset div {ctx_len}"))
        .withColumn("last_block", F.expr(f"(offset + n_tok - 1) div {ctx_len}"))
    )


def pack_totals(seq: DataFrame) -> DataFrame:
    """Per-source packing checkpoint: (source, n_tok_total, max_doc_id)
    over the already-packed corpus — the ONLY state incremental packing
    needs (one tiny aggregate; persist it next to the blocks like
    ``plans/lineage.py`` checkpoints)."""
    return (
        seq.filter(F.col("n_tok") > 0)
        .groupBy(F.col("source"))
        .agg(
            F.sum(F.col("n_tok").cast("long")).alias("n_tok_total"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


def pack_offsets_incremental(
    new_seq: DataFrame,
    totals: DataFrame,
    ctx_len: int,
    enforce_append: bool = True,
) -> DataFrame:
    """Extend a packed corpus WITHOUT re-scanning it: placement for an
    appended batch given only the ``pack_totals`` checkpoint. Because
    packing is the doc_id-ordered concat, appends whose ids sort AFTER
    every stored id of their source leave existing placements untouched
    and the new batch's offsets are just (stored per-source total) +
    (two-phase offsets within the batch) — bit-identical to re-packing
    the full corpus (certified by the ``tok_pack_incremental`` oracle,
    which replays the full cumsum and restricts to the new batch).

    ``enforce_append=True`` raises mid-plan (``raise_error``, folded
    into the offset expression so column pruning cannot drop the check)
    if any new id does not sort strictly after its source's stored
    ``max_doc_id`` — out-of-order appends would silently corrupt
    placements otherwise. Unseen sources start at offset 0."""
    p = pack_offsets(
        new_seq, ctx_len
    ).drop("first_block", "last_block")
    t = totals.select("source", "n_tok_total", "max_doc_id")
    j = p.join(t, "source", "left")
    base = F.coalesce(F.col("n_tok_total"), F.lit(0))
    if enforce_append:
        ok = F.col("max_doc_id").isNull() | (F.col("doc_id") > F.col("max_doc_id"))
        base = base + F.when(ok, F.lit(0).cast("long")).otherwise(
            F.raise_error(
                F.format_string(
                    "incremental packing: doc %s does not sort after its "
                    "source's stored max_doc_id %s — out-of-order appends "
                    "would corrupt existing placements",
                    F.col("doc_id").cast("string"),
                    F.col("max_doc_id").cast("string"),
                )
            ).cast("long")
        )
    return (
        j.withColumn("offset", (base + F.col("offset")).cast("long"))
        .select("source", "doc_id", "n_tok", "offset")
        .withColumn("first_block", F.expr(f"offset div {ctx_len}"))
        .withColumn("last_block", F.expr(f"(offset + n_tok - 1) div {ctx_len}"))
    )


def merge_pack_totals(totals: DataFrame, new_totals: DataFrame) -> DataFrame:
    """Checkpoint update after an append: totals ⊎ new batch totals
    (sum tokens, max id per source) — the next increment's input."""
    return (
        totals.unionByName(new_totals)
        .groupBy("source")
        .agg(
            F.sum("n_tok_total").cast("long").alias("n_tok_total"),
            F.max("max_doc_id").alias("max_doc_id"),
        )
    )


def pack_manifest(seq: DataFrame, ctx_len: int) -> DataFrame:
    """Per-(block, doc) assembly manifest: (source, block_id, doc_id,
    doc_start, block_off, n_in_block) — exactly which token slice
    ``[doc_start, doc_start + n_in_block)`` of each doc lands at
    ``block_off`` inside each block. The union of slices tiles every
    block of a source densely except the final partial block. A worker
    materializing block b reads only the manifest rows of b — packing
    becomes an ordinary partition-pruned join against the sequence
    table."""
    p = pack_offsets(seq, ctx_len)
    blocks = F.explode(F.sequence("first_block", "last_block")).alias("block_id")
    b = p.select("source", "doc_id", "n_tok", "offset", blocks)
    bstart = F.col("block_id") * ctx_len
    bend = bstart + ctx_len
    gstart = F.greatest(bstart, F.col("offset"))  # global slice bounds
    gend = F.least(bend, F.col("offset") + F.col("n_tok"))
    return b.select(
        "source",
        "block_id",
        "doc_id",
        (gstart - F.col("offset")).alias("doc_start"),
        (gstart - bstart).alias("block_off"),
        (gend - gstart).alias("n_in_block"),
    )


def materialize_blocks(seq: DataFrame, ctx_len: int) -> DataFrame:
    """Assemble the actual packed training blocks: (source, block_id,
    n_tokens, tokens) with each block's token array concatenated from
    its manifest slices in ``block_off`` order. Every block is exactly
    ``ctx_len`` tokens except each source's final partial block.

    Plan: manifest join back to the sequence table (shuffle on doc_id,
    the only corpus-sized exchange), per-row ``slice`` of the token
    array (JVM expr), then a per-block ordered reassembly —
    ``array_sort(collect_list(struct(block_off, slice)))`` is the same
    deterministic in-group ordering contract as ``blocks.from_blocks``.
    Block rows are bounded by ``ctx_len`` tokens, so group state is
    constant-size regardless of corpus."""
    man = pack_manifest(seq, ctx_len)
    j = man.join(
        seq.select(F.col("doc_id"), F.col("tokens").alias("_t")),
        "doc_id",
    ).select(
        "source",
        "block_id",
        "block_off",
        F.expr("slice(_t, doc_start + 1, n_in_block)").alias("_sl"),
    )
    return (
        j.groupBy("source", "block_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("block_off", "_sl"))),
                    lambda s: s["_sl"],
                )
            ).alias("tokens")
        )
        .select(
            "source",
            "block_id",
            F.size("tokens").cast("long").alias("n_tokens"),
            "tokens",
        )
    )
