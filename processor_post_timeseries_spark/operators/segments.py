"""Sessionization / contiguous-segment detection (operator W1).

Reference semantics: a stream splits where successive timestamp deltas
exceed ``2 × (1/rate)`` (``/root/reference/processor/reader.py:181-225``,
threshold at ``:199``) and emits half-open ``[start, end)`` ranges;
``sessionize`` labels each row with its segment id instead.

Spark-first expression: lag-diff flag + running sum over an ordered
window — the classic sessionization idiom. Shuffles once on the key
(unavoidable: segmentation is a per-key ordered computation). For the
streaming twin, ``streaming/stream_rollup.py`` uses ``F.session_window``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# the reference infers a rate from the first 10 timestamps
# (reference processor/utils.py:6-13)
RATE_FIRST_K = 10
# a declared rate is wrong when the inferred one differs by more than 2 %
# (reference processor/reader.py:98-106)
RATE_TOLERANCE = 0.02


def sessionize(df: DataFrame, key: str, ts: str, gap) -> DataFrame:
    """Add ``seg_id`` (0-based per key): new segment where ts - lag(ts) > gap.

    ``gap`` may be a number (same units as ``ts``) or a Column expression.
    """
    gap_col = gap if isinstance(gap, Column) else F.lit(gap)
    w = Window.partitionBy(key).orderBy(ts)
    delta = F.col(ts) - F.lag(ts).over(w)
    flag = F.when(delta > gap_col, 1).otherwise(0)
    return df.withColumn("seg_id", F.sum(flag).over(w).cast("long"))


def channel_extents(df: DataFrame, key: str, ts: str, value: str) -> DataFrame:
    """Operator A1 — per-channel metadata extents, the reference's
    ``reader.channels`` min/max (``/root/reference/processor/reader.py:146-175``)."""
    return df.groupBy(key).agg(
        F.min(ts).alias("start"),
        F.max(ts).alias("end"),
        F.count("*").alias("n_samples"),
        F.min(value).alias("min_v"),
        F.max(value).alias("max_v"),
    )


def infer_rate_hz(
    df: DataFrame,
    key: str,
    ts_us: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """A2 — sampling-rate inference per key: median timestamp delta of the
    first ``RATE_FIRST_K`` samples, rate = 1e6/median (reference
    ``/root/reference/processor/utils.py:6-13``: the sample window is the
    first 10 timestamps; ``reader.py:85`` feeds it min(10000, n) but the
    helper slices [:10]). Returns (key, median_delta_us, inferred_rate_hz),
    rate rounded to 9 dp for cross-engine determinism."""
    order = [ts_us, *(tiebreak or [])]
    w = Window.partitionBy(key).orderBy(*order)
    first = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= RATE_FIRST_K)
        .withColumn("_d", F.col(ts_us) - F.lag(ts_us).over(Window.partitionBy(key).orderBy(ts_us)))
        .filter(F.col("_d").isNotNull())
    )
    return first.groupBy(key).agg(
        F.median("_d").cast("double").alias("median_delta_us"),
        F.round(F.lit(1e6) / F.nullif(F.median("_d"), F.lit(0)), 9)
        .cast("double")
        .alias("inferred_rate_hz"),
    )


def validate_rates(df: DataFrame, mode: str = "flag") -> DataFrame:
    """Declared-vs-inferred rate cross-validation (reference
    ``/root/reference/processor/reader.py:82-106``): relative error
    ``|inferred - declared| * (1/declared)`` of the ``inferred_rate_hz``
    and ``declared_rate_hz`` columns; STRICTLY greater than
    ``RATE_TOLERANCE`` is a violation (error == tolerance passes, matching
    the reference's ``error > 0.02``).

    ``mode="flag"`` adds (rate_error, rate_valid) — the declarative
    engine shape: callers filter or fail the batch. ``mode="fail"``
    reproduces the reference's raise-on-first-violation with its message
    format (one bounded ``limit(1)`` action, not a collect of the table)."""
    # guard the division itself: ANSI mode (Spark 4 default) raises on
    # x/0, and a NULL error would make rate_valid NULL — a row escaping
    # both the valid and invalid sets (the reference would have raised a
    # ZeroDivisionError here)
    err = F.when(
        F.col("declared_rate_hz") > 0,
        F.abs(F.col("inferred_rate_hz") - F.col("declared_rate_hz"))
        * (F.lit(1.0) / F.col("declared_rate_hz")),
    )
    out = df.withColumn("rate_error", err).withColumn(
        "rate_valid",
        F.when(err.isNull(), F.lit(False)).otherwise(~(err > F.lit(RATE_TOLERANCE))),
    )
    if mode == "fail":
        bad = out.filter(~F.col("rate_valid")).limit(1).collect()
        if bad:
            r = bad[0]
            raise ValueError(
                "Inferred rate from timestamps ({inferred_rate:.4f}) does not "
                "match given rate ({given_rate:.4f}).".format(
                    inferred_rate=r["inferred_rate_hz"], given_rate=r["declared_rate_hz"]
                )
            )
    elif mode != "flag":
        raise ValueError(f"unknown mode {mode!r}")
    return out
