"""Deterministic sampling operators for training-data curation.

``df.sample()`` is seed-dependent per partition layout — re-running the
same job over a re-bucketed corpus draws a DIFFERENT sample, which
poisons dataset reproducibility. These operators derive the sample from
content hashes instead, so the same corpus always yields the same
sample regardless of partitioning, cluster size, or Spark version.

* ``stratified_sample`` — exact per-stratum quota: the ceil(n·num/den)
  rows with the smallest ``md5(id)`` per stratum. Two-phase distributed
  rank: a bare per-stratum window sort would pin each stratum in ONE
  task (a corpus with few strata serializes), so rows are bucketed by
  an md5-hex PREFIX — uniform by construction, no skew possible — the
  rank window runs per ``(stratum, bucket)``, and each bucket's rank
  base comes from a tiny per-bucket count table broadcast back. Exact
  same rank values as the single-window form at any parallelism. Quota
  uses integer arithmetic (``(n·num + den − 1) div den``) so the
  oracle's arithmetic is bit-identical (no float ceil drift).
* ``hash_sample`` — stateless Bernoulli-style: keep rows whose hash
  bucket falls under the rate. Zero shuffles — a pure filter that
  pushes into the scan — and stable under corpus growth (a row's
  membership never changes when other rows appear).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    num: int,
    den: int,
) -> DataFrame:
    """Exact deterministic stratified sample of num/den per stratum:
    (strata, id, sample_rank) for the quota rows with the smallest
    (md5(id), id) per stratum. Quota = ceil(stratum_size * num / den),
    so every non-empty stratum contributes at least one row.

    Two-phase distributed rank (module docstring): the rank order is
    ``(md5(id), id)`` and the bucket is the first 2
    hex chars of that same md5 — a lexicographic prefix, so per-bucket
    ``row_number`` plus the count of all lower buckets IS the global
    per-stratum rank. md5 prefixes are uniform, so the 256 buckets
    split every stratum evenly regardless of data skew; the cross-bucket
    combine windows over |strata|·|buckets| summary rows only."""
    h = F.md5(F.col(id_col).cast("string"))
    base = df.select(
        F.col(strata_col), F.col(id_col), h.alias("_h")
    ).withColumn("_bkt", F.substring("_h", 1, 2))
    w_local = Window.partitionBy(strata_col, "_bkt").orderBy("_h", id_col)
    # per-(stratum, bucket) counts -> each bucket's rank base (count of
    # all lexicographically-lower buckets) and the stratum total for the
    # quota — both from ONE tiny aggregate, broadcast back
    w_bkt = (
        Window.partitionBy(strata_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(strata_col)
    bases = (
        base.groupBy(strata_col, "_bkt")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            strata_col,
            "_bkt",
            (F.sum("_c").over(w_bkt) - F.col("_c")).cast("long").alias("_base"),
            F.sum("_c").over(w_all).cast("long").alias("_n"),
        )
    )
    # no broadcast hint — same reasoning as pack_offsets: the summary
    # frame is tiny for any sane strata count and AQE broadcasts it at
    # runtime; an unbounded-strata corpus must not be forced to fit
    return (
        base.withColumn("_lr", F.row_number().over(w_local))
        .join(bases, [strata_col, "_bkt"])
        .withColumn("sample_rank", (F.col("_base") + F.col("_lr")).cast("int"))
        .filter(F.col("sample_rank") <= F.expr(f"(_n * {num} + {den - 1}) div {den}"))
        .select(strata_col, id_col, "sample_rank")
    )


def hash_sample(df: DataFrame, id_col: str, num: int, den: int) -> DataFrame:
    """Stateless content-hash sample: keep rows where the first 8 hex
    digits of md5(id), read as an integer, fall in the lowest
    num/den fraction of the 32-bit space. No shuffle; membership is a
    pure function of the row id."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(""), F.col(id_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return df.filter(h * den < F.lit(num) * F.lit(4294967296))


def mixture_rates(seq: DataFrame, targets: dict[str, float]) -> DataFrame:
    """Domain-mixture planning: given target source proportions
    ``targets`` (summing to 1) and the corpus's available tokens per
    source, compute the LARGEST total corpus achievable at exactly the
    target mixture without upsampling, and the per-source keep rate that
    realizes it:

        T = min over targeted sources of  n_s / p_s
        rate_s = p_s * T / n_s          (1.0 for the binding source)

    Output: (source, n_tok_avail, target_share, n_tok_take, rate) —
    one row per source present in the corpus OR named in the targets;
    untargeted sources get share 0/rate 0 (dropped from the mixture),
    and a targeted source with NO corpus tokens drives T to 0 (the
    requested distribution is unachievable — surfaced, never silently
    renormalized). Feed ``rate`` into ``hash_sample`` for a
    deterministic, partition-invariant draw.

    Plan: one partial-aggregated count per source (tiny), a driver-side
    min over |sources| rows, arithmetic on the same tiny frame. Nothing
    here scales with corpus rows except the one count scan."""
    avail = seq.groupBy(F.col("source")).agg(
        F.sum("n_tok").cast("long").alias("n_tok_avail")
    )
    spark = seq.sparkSession
    tgt = spark.createDataFrame(
        [(s, float(p)) for s, p in targets.items()], "source string, target_share double"
    )
    # FULL outer: a targeted source ABSENT from the corpus must surface
    # as n_tok_avail = 0 and drive T to 0 (the target mixture is
    # unachievable without it) — a left join would silently drop it and
    # report a corpus that violates the requested distribution
    j = avail.join(tgt, "source", "full_outer").select(
        "source",
        F.coalesce("n_tok_avail", F.lit(0)).cast("long").alias("n_tok_avail"),
        F.coalesce("target_share", F.lit(0.0)).alias("target_share"),
    )
    # binding constraint: smallest n_s / p_s over targeted sources.
    # |sources| rows — the agg is a scalar, kept as a cross-joined
    # 1-row frame so the whole op stays one lazy plan (no collect)
    # coalesce: an EMPTY targets dict (or all-zero shares) leaves the
    # min over zero rows NULL — surface a consistent "take nothing"
    # plan (n_tok_take 0, rate 0.0) instead of NULL takes + 0.0 rates
    t_total = j.filter(F.col("target_share") > 0).agg(
        F.coalesce(
            F.min(F.col("n_tok_avail") / F.col("target_share")), F.lit(0.0)
        ).alias("_T")
    )
    return (
        j.crossJoin(F.broadcast(t_total))
        .select(
            "source",
            "n_tok_avail",
            "target_share",
            F.floor(F.col("target_share") * F.col("_T")).cast("long").alias("n_tok_take"),
            F.round(
                F.when((F.col("target_share") > 0) & (F.col("n_tok_avail") > 0),
                       F.least(F.lit(1.0),
                               F.col("target_share") * F.col("_T") / F.col("n_tok_avail")))
                .otherwise(F.lit(0.0)),
                9,
            ).alias("rate"),
        )
    )


def apply_mixture(df: DataFrame, rates: DataFrame) -> DataFrame:
    """Execute a mixture plan: keep each row iff its content hash falls
    under its source's keep rate (``mixture_rates`` output joined in by
    broadcast — |sources| rows). Same md5-prefix mechanics as
    ``hash_sample``, generalized to fractional per-source rates: the
    8-hex-digit prefix is compared against ``lpad(hex(floor(rate·2^32)))``
    — fixed-width lowercase hex orders exactly like the 32-bit integer,
    so the filter is engine-portable. rate >= 1 keeps everything ('g'
    sorts above every hex digit); rate = 0 keeps nothing. Deterministic
    and partition-invariant like every sampler here."""
    thresh = F.when(F.col("rate") >= 1.0, F.lit("g")).otherwise(
        F.lpad(
            F.lower(
                F.hex(F.floor(F.col("rate") * F.lit(4294967296.0)).cast("long"))
            ),
            8,
            "0",
        )
    )
    r = rates.select(F.col("source"), thresh.alias("_thresh"))
    h8 = F.substring(
        F.md5(F.concat(F.lit(""), F.col("doc_id").cast("string"))), 1, 8
    )
    return (
        df.join(F.broadcast(r), "source")
        .filter(h8 < F.col("_thresh"))
        .drop("_thresh")
    )
