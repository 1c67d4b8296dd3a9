"""Explicit salt/bucket partitioning + AQE skew handling (north rule).

The synthetic corpus (like real training corpora) is Zipf-skewed by
``source`` — one hot source can dominate. Partitioning by ``source``
alone would straggle; we salt with ``bucket = pmod(xxhash64(doc_id), B)``
so each source fans out over B buckets, and repartition on the composite
key before heavy stages. AQE skew-join splitting + partition coalescing
(enabled in session.py) handles residual imbalance at runtime.

At 100 TB: choose B so a (source, bucket) slice ~ a few GB — large enough
to amortize task overhead, small enough to fit executor memory; the
physical table is ``partitionBy(source, bucket)`` so downstream scans
prune on both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 32


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Deterministic salt bucket from the doc key (stable across runs —
    xxhash64 with fixed seed, never Python hash())."""
    return df.withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"))
