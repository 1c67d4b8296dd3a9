"""Deterministic global training order (the "shuffle" a training run
consumes) — reference scope: the reference emits ordered manifests for
its own outputs (processor/writer.py ordered block keys); a training
pipeline needs the same determinism for EXAMPLE order.

``Dataset.orderBy(rand())`` is partition-layout- and seed-dependent; a
re-run over a re-bucketed corpus yields a different epoch order, which
breaks reproducible training. ``shuffle_manifest`` instead assigns each
row its rank under ``(md5(salt || id), id)`` — a content-derived
permutation that is identical on any cluster at any parallelism, and a
different (statistically independent) permutation per ``salt`` (use the
epoch number).

Plan shape at 100 TB — the same two-phase distributed rank as
``operators/sampling.py`` (a bare global ``row_number`` window would
move the whole corpus into ONE task): rows bucket by an md5-hex prefix
(uniform by construction, skew-impossible), ranks run per bucket, and
each bucket's base offset comes from one tiny |buckets|-row summary
frame whose global cumsum window is bounded by construction (16^len
rows — the ``waived_global_window`` entry in tools/plan_audit.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def shuffle_manifest(df: DataFrame, salt: str = "") -> DataFrame:
    """(id, position): 1-based global rank of each row under the
    deterministic permutation ``ORDER BY md5(salt || id), id``. The
    tie-break on id makes the rank total even under hash collisions."""
    h = F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string")))
    base = df.select(F.col("doc_id"), h.alias("_h")).withColumn(
        "_bkt", F.substring("_h", 1, 2)
    )
    w_local = Window.partitionBy("_bkt").orderBy("_h", "doc_id")
    # |buckets| summary rows; the rank base of a bucket is the count of
    # all lexicographically lower buckets (md5 prefix == rank-order
    # prefix, so per-bucket rank + base IS the global rank)
    w_cum = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bases = (
        base.groupBy("_bkt")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            "_bkt",
            (F.sum("_c").over(w_cum) - F.col("_c")).cast("long").alias("_base"),
        )
    )
    return (
        base.withColumn("_lr", F.row_number().over(w_local))
        .join(bases, "_bkt")
        .select(
            "doc_id",
            (F.col("_base") + F.col("_lr")).cast("long").alias("position"),
        )
    )


def epoch_batches(df: DataFrame, batch_size: int, salt: str = "") -> DataFrame:
    """The manifest a data loader actually consumes: each row's global
    batch assignment under the deterministic epoch permutation —
    (id, position, batch_no, pos_in_batch) with
    ``batch_no = (position - 1) // batch_size`` (0-based). A pure
    projection on ``shuffle_manifest``: same plan shape, no extra
    exchange; re-deriving with the same salt reproduces the exact
    batch composition on any cluster (resumable training)."""
    m = shuffle_manifest(df, salt)
    p0 = F.col("position") - 1
    rem = p0 % batch_size
    # (p0 - rem) / batch_size divides an exact multiple: the correctly-
    # rounded IEEE quotient IS the integer, so the cast never truncates
    # a near-miss (p0 / batch_size alone could, at extreme row counts)
    return m.select(
        "doc_id",
        "position",
        ((p0 - rem) / batch_size).cast("long").alias("batch_no"),
        rem.cast("int").alias("pos_in_batch"),
    )
