"""Linear-interpolation resampling — project each channel's irregular
samples onto a regular grid, the downsample/upsample primitive behind
retention-tier rollups when tiers need VALUES at grid points rather
than window aggregates (the reference's tiers aggregate; gap-fill
``operators/gapfill.py`` fills missing *indices* — this operator is the
continuous-time generalization).

Plan shape: union the grid points with the samples and resolve both
bracketing samples in ONE window pass over the union — ``last(...,
ignorenulls)`` looking back for the left bracket, ``first(...,
ignorenulls)`` looking forward for the right — then interpolate with
arithmetic expressions. Zero joins, one shuffle on the channel key;
per-key cost is the sort a sort-merge plan would pay anyway.

At 100 TB: parallelism = channels (the window partitions by ``by``);
the union adds |grid| ~ span/step rows per channel, chosen by the
caller. No step is ever quadratic and nothing leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def resample_linear(
    df: DataFrame,
    by: str,
    ts_col: str,
    val_col: str,
    step_us: int,
    tiebreak: str | None = None,
) -> DataFrame:
    """Resample ``val_col`` onto the regular grid of ``step_us`` multiples
    inside each key's observed span ``[min(ts), max(ts)]``.

    * A grid point that coincides with a sample returns that sample's
      value exactly (no float arithmetic applied).
    * Otherwise linear interpolation between the bracketing samples:
      ``v0 + (gts - ts0) * (v1 - v0) / (ts1 - ts0)``, rounded to
      6 decimals. Both brackets always exist because the grid is
      confined to the observed span.
    * Duplicate timestamps within a key: the left bracket is the
      duplicate greatest in ``tiebreak`` order (pass a unique column for
      deterministic output); a zero dt falls back to the left value.
    """
    step = F.lit(step_us)
    # keep the tiebreak in its NATIVE orderable type (as asof_join does):
    # casting to long would turn e.g. a string tiebreak into silent NULLs
    # and make duplicate-timestamp resolution partition-dependent
    tb_type = df.schema[tiebreak].dataType if tiebreak else None
    samples = df.select(
        F.col(by),
        F.col(ts_col).alias("_ts"),
        F.col(val_col).cast("double").alias("_v"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("_tb"),
        F.lit(0).alias("_side"),
    )
    grid = (
        df.groupBy(by)
        .agg(F.min(ts_col).alias("_mn"), F.max(ts_col).alias("_mx"))
        # first grid multiple >= _mn via pure int64 pmod arithmetic —
        # exact for all int64 (the old floor((mn+step-1)/step)*step went
        # through a double and could drift beyond 2^53)
        .withColumn(
            "_gs",
            (F.col("_mn") + F.pmod(F.lit(0) - F.col("_mn"), step)).cast("long"),
        )
        # a key whose span straddles no grid multiple yields no grid
        # points (Spark's sequence() raises on start > stop; DuckDB's
        # generate_series returns empty — this filter pins the latter)
        .filter(F.col("_gs") <= F.col("_mx"))
        .select(
            F.col(by),
            F.explode(F.sequence(F.col("_gs"), F.col("_mx"), step)).alias("_ts"),
            F.lit(None).cast("double").alias("_v"),
            (F.lit(None).cast(tb_type) if tb_type else F.lit(None).cast("int")).alias("_tb"),
            F.lit(1).alias("_side"),
        )
    )
    u = samples.unionByName(grid)

    order = [F.col("_ts").asc(), F.col("_side").asc(), F.col("_tb").asc()]
    w_back = (
        Window.partitionBy(by).orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(by).orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    sample_pt = F.when(F.col("_side") == 0, F.struct("_ts", "_v"))
    u = (
        u.withColumn("_prev", F.last(sample_pt, ignorenulls=True).over(w_back))
        .withColumn("_next", F.first(sample_pt, ignorenulls=True).over(w_fwd))
    )
    ts0, v0 = F.col("_prev._ts"), F.col("_prev._v")
    ts1, v1 = F.col("_next._ts"), F.col("_next._v")
    gts = F.col("_ts")
    interp = v0 + (gts - ts0) * (v1 - v0) / F.nullif(ts1 - ts0, F.lit(0))
    value = F.when(ts0 == gts, v0).otherwise(
        F.round(F.coalesce(interp, v0), 6)
    )
    return (
        u.filter(F.col("_side") == 1)
        .select(F.col(by), gts.alias("grid_ts_us"), value.alias("v"))
    )
