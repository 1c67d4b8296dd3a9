"""Per-channel trend and changepoint statistics, integer-exact.

The reference's analysis phase reduces each channel to scalar
diagnostics before writing (rate inference and its tolerance check,
``/root/reference/processor/reader.py:66-106``); a retention pipeline
additionally wants "did this channel drift / jump, and where" before
rolling up. Both operators below follow the engine's determinism rule:
fixed-point the measure (cents), keep every statistic a pure integer
expression, never divide — so results hash identically across engines
and partitionings.

Both are one ordered window (or one bounded agg) per channel over the
already-long-form series — no corpus-wide shuffle beyond the per-channel
re-key the caller's frame implies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cusum_changepoint(
    series: DataFrame,
    part_col: str,
    ord_col: str,
    val_col: str,
) -> DataFrame:
    """(part, cp_ord, cusum_scaled, n) — the CUSUM changepoint per channel.

    Classic mean-shift CUSUM: the changepoint is the position maximizing
    ``|sum_{i<=k}(v_i - mean)|``. Scaled by n to stay integral:

        C_k = n * prefix_k - k * total        (== n^2 * classic CUSUM_k)

    with ``prefix_k`` the running sum and ``k`` the 1-based position —
    both from ONE ordered running-frame window; ``total``/``n`` join
    back from a bounded per-channel aggregate. The argmax breaks ties
    to the smallest position, so the winner is unique and portable.

    Range: |C_k| <= n * |total| — fits int64 while
    ``n * sum|v| < ~9e18`` per channel (1e5-cent values up to ~1e6
    rows/channel); beyond that, pre-aggregate to a coarser grid first.
    ``val_col`` must be integral.
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(ord_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = series.select(
        F.col(part_col).alias("part"),
        F.col(ord_col).alias("pos"),
        F.sum(F.col(val_col)).over(w).alias("prefix"),
        F.count(F.lit(1)).over(w).alias("k"),
    )
    tot = series.groupBy(F.col(part_col).alias("part")).agg(
        F.sum(F.col(val_col)).alias("total"), F.count("*").alias("n")
    )
    c = pre.join(F.broadcast(tot), "part").select(
        "part",
        "pos",
        "n",
        (F.col("n") * F.col("prefix") - F.col("k") * F.col("total")).alias("c_k"),
    )
    rk = Window.partitionBy("part").orderBy(
        F.desc(F.abs(F.col("c_k"))), F.asc("pos")
    )
    return (
        c.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(
            "part",
            F.col("pos").alias("cp_ord"),
            F.col("c_k").alias("cusum_scaled"),
            F.col("n").cast("bigint").alias("n"),
        )
    )


def trend_slope(
    series: DataFrame,
    part_col: str,
    ord_col: str,
    val_col: str,
) -> DataFrame:
    """(part, n, slope_num, slope_den) — OLS slope as an exact fraction.

    Least-squares slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2). The
    division is never performed: numerator and denominator ship as
    exact int64s (consumers divide at display time), so the statistic
    is bit-portable. ``ord_col`` should be a small per-channel offset
    (shift to min first) and ``val_col`` integral: the largest product
    is ``n * Sxy`` — fits int64 while ``n * sum(x*|v|) < ~9e18``
    (minute offsets < 1e5, cents < 1e6, up to ~1e5 rows/channel).

    One map-side-combined aggregate per channel; nothing else.
    """
    x = F.col(ord_col)
    y = F.col(val_col)
    agg = series.groupBy(F.col(part_col).alias("part")).agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    return agg.select(
        "part",
        F.col("n").cast("bigint").alias("n"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("slope_den"),
    )


def diff2_extrema(
    series: DataFrame,
    part_col: str,
    ord_col: str,
    val_col: str,
) -> DataFrame:
    """(part, pos, d2, n) — the largest second difference per channel.

    ``d2_k = v_k - 2*v_{k-1} + v_{k-2}`` is the discrete curvature; its
    extremum is the sharpest kink in the series (sensor glitch, clock
    step) — the complement to ``cusum_changepoint``'s sustained shift.
    Pure integer lag arithmetic in ONE ordered window per channel;
    argmax breaks ties to the earliest position; channels with fewer
    than 3 points produce no row.
    """
    w = Window.partitionBy(part_col).orderBy(ord_col)
    d2 = (
        F.col(val_col)
        - 2 * F.lag(val_col, 1).over(w)
        + F.lag(val_col, 2).over(w)
    )
    rows = series.select(
        F.col(part_col).alias("part"),
        F.col(ord_col).alias("pos"),
        d2.alias("d2"),
        F.count(F.lit(1)).over(Window.partitionBy(part_col)).alias("n"),
    ).filter(F.col("d2").isNotNull())
    rk = Window.partitionBy("part").orderBy(F.desc(F.abs(F.col("d2"))), F.asc("pos"))
    return (
        rows.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select("part", "pos", "d2", F.col("n").cast("bigint").alias("n"))
    )


def value_histogram(series: DataFrame, part_col: str, val_col: str) -> DataFrame:
    """(part, bin, n, lo) — equi-width value histogram per channel.

    The monitoring primitive behind drift dashboards and range checks.
    Bin edges come from each channel's own min/max:
    ``bin = (v - mn) * 20 div (mx - mn + 1)`` (20 bins) — integer division of
    non-negative integers, where floor == truncate in every engine, so
    bin assignment is bit-portable (``val_col`` must be integral; the
    +1 keeps the max value inside the last bin). ``lo`` is the bin's
    inclusive lower edge, the same integer-div formula inverted. One
    bounded min/max agg broadcast back, one map-side-combined count —
    two scans, no window, no sort.
    """
    ext = series.groupBy(F.col(part_col).alias("part")).agg(
        F.min(F.col(val_col)).alias("mn"), F.max(F.col(val_col)).alias("mx")
    )
    j = series.select(
        F.col(part_col).alias("part"), F.col(val_col).alias("v")
    ).join(F.broadcast(ext), "part")
    bin_ = F.expr("((v - mn) * 20) div (mx - mn + 1)")
    return (
        j.groupBy("part", bin_.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.min("mn").alias("part_min"),
            F.min("mx").alias("part_max"),
        )
        .select(
            "part",
            "bin",
            F.col("n").cast("bigint").alias("n"),
            F.expr(
                "part_min + (bin * (part_max - part_min + 1)) div 20"
                " + (CASE WHEN (bin * (part_max - part_min + 1)) % 20"
                f" > 0 THEN 1 ELSE 0 END)"
            ).alias("lo"),
        )
    )
