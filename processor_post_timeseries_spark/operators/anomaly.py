"""Per-group z-score anomaly flags with integer-exact arithmetic.

The reference validates an inferred sampling rate against a stored one
with a 2%% tolerance predicate (``/root/reference/processor/reader.py:
98-106``); this operator generalizes that "is this observation
consistent with its population" check to a per-group sigma test over a
measure column — the shape a retention pipeline uses to quarantine
corrupt channels before rollup.

Exactness: the naive ``abs(x - mean) > k * stddev`` is NOT bit-portable
(stddev orders float sums differently per engine/partitioning). Instead
the value is fixed-pointed to integer cents ``v_c = round(value * 100)``
(one IEEE multiply + round — deterministic everywhere) and the sigma
test is cross-multiplied into pure integer form:

    z^2 > k^2
 <=>  (v_c*n - S)^2 * (n-1)  >  k^2 * n * (n*Q - S^2)

with S = sum(v_c), Q = sum(v_c^2) per group. Intermediates are cast to
DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so nothing overflows; every
step is integer arithmetic, so the flags hash identically across
engines and partitionings.

Scale shape: ONE map-side-combined aggregation down to |groups| rows,
broadcast back, then a zero-shuffle flag projection over the corpus.

Range bound: the largest intermediate is ``(v_max*n)^2 * n``; it fits
DECIMAL(38,0) while ``v_max * n < ~1e12`` cents per group. Beyond that
(1e12-row single groups), shard the group into deterministic strata
(hash salt) and flag within strata — Spark nulls the decimal product on
overflow rather than wrapping, so violation is loud, not silent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zscore_flags(df: DataFrame, group_col: str, value_col: str, id_col: str) -> DataFrame:
    """(id, group, value_cents, flagged, side) for every input row; a row
    is flagged when its |z| exceeds k = 2.

    ``side`` is -1/0/+1: the sign of (x - mean) for flagged rows, 0 for
    unflagged — so downstream quarantine can distinguish spikes from
    dropouts without re-deriving the mean.
    """
    cents = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.round(F.col(value_col) * 100).cast("bigint").alias("v_c"),
    )
    # aggregate s and q in DECIMAL(38,0): a plain BIGINT sum wraps
    # silently with ANSI off once q passes 2^63 (v_c ~ 1e6 cents over
    # ~1e7 rows), while the DuckDB oracle promotes to HUGEINT — decimal
    # accumulation is exact, and loud (null) on true overflow
    vdec = F.col("v_c").cast("decimal(38,0)")
    stats = cents.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum(vdec).alias("s"),
        F.sum(vdec * vdec).alias("q"),
    )
    j = cents.join(F.broadcast(stats), "grp")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dev = dec(F.col("v_c") * F.col("n")) - dec(F.col("s"))
    var_num = dec(F.col("n")) * dec(F.col("q")) - dec(F.col("s")) * dec(F.col("s"))
    flagged = (F.col("n") > 1) & (
        dev * dev * dec(F.col("n") - 1) > F.lit(2 * 2) * dec(F.col("n")) * var_num
    )
    return j.select(
        "id",
        "grp",
        F.col("v_c").alias("value_cents"),
        flagged.alias("flagged"),
        F.when(flagged, F.signum(dev).cast("int")).otherwise(0).alias("side"),
    )
