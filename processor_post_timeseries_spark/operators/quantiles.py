"""Exact distributed quantiles over integer-valued columns.

The reference infers a sampling rate from the *median* of timestamp
deltas (``/root/reference/processor/reader.py:85-96`` — ``np.median``
over an in-memory array). At 100 TB an exact per-group quantile cannot
sort the raw data per group; but when the value domain is integral and
low-cardinality relative to the corpus (timestamp deltas, token counts,
document lengths), the counting-sort formulation is exact AND scalable:

* **Phase 1** — ``groupBy(group, value).count()``: one shuffle whose
  map side combines, output bounded by ``|groups| x |distinct values|``
  (NOT corpus-sized).
* **Phase 2** — a cumulative-count window per group over that bounded
  histogram, then ``min(value WHERE cum >= ceil(q*n))`` per group.

The quantile definition is ``inverted_cdf`` (type-1 / ``quantile_disc``
with lower interpolation): the smallest value whose cumulative count
reaches ``ceil(q*n)``. The rank threshold is evaluated in
cross-multiplied integer form (``cum * q_den >= n * q_num``) so the
result is bit-portable across engines — no float quantile math at all.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_group_quantiles(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """(group, n, p<q> ...) — exact inverted-cdf quantiles per group.

    ``value_col`` must be integral (the counting-sort exactness
    argument needs discrete values). The quantiles are 0.5, 0.9 and
    0.99, as columns p50, p90 and p99.
    """
    hist = df.groupBy(
        F.col(group_col).alias("grp"), F.col(value_col).alias("v")
    ).agg(F.count("*").alias("c"))
    w = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select(
        "grp",
        "v",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy("grp")).alias("n"),
    )
    aggs = [F.max("n").cast("bigint").alias("n")]
    for q in (0.5, 0.9, 0.99):
        fr = Fraction(q).limit_denominator(10_000)
        label = f"p{q * 100:g}".replace(".", "_")
        aggs.append(
            F.min(
                F.when(
                    F.col("cum") * fr.denominator >= F.col("n") * fr.numerator,
                    F.col("v"),
                )
            ).alias(label)
        )
    return cum.groupBy("grp").agg(*aggs)
