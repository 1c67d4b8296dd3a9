"""Targeted backfill — invalidate selected work units in the lineage
checkpoint so the next resumable run recomputes EXACTLY those
partitions and nothing else.

Why this shape: the pipeline's resume protocol (``plans/lineage.py``)
skips every (stage, partition_key) with a ``done`` checkpoint row.
Reprocessing a bad partition (codec bug, corrupted source file,
upstream restatement) therefore reduces to DELETING its checkpoint
rows — the parquet-seam analog of ``DELETE FROM checkpoint WHERE …``
on an Iceberg table — and re-running the pipeline with ``resume=True``.
Dynamic partition overwrite makes the recompute idempotent; untouched
partitions are never read or rewritten.

The checkpoint table is tiny by construction (one row per partition per
stage), so the filter-rewrite materializes through the driver. A crash
between delete and rewrite degrades to a MISSING checkpoint — the safe
direction (resume recomputes more, never serves stale lineage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lineage import CKPT_SCHEMA, _ckpt_path, read_checkpoint


def invalidate_units(
    spark: SparkSession,
    root: str,
    stage: str,
    partition_keys: list[str],
) -> int:
    """Remove done-rows for exact (stage, partition_key) pairs. Returns
    how many checkpoint rows were deleted."""
    return _rewrite_without(
        spark,
        root,
        (F.col("stage") == stage) & F.col("partition_key").isin(partition_keys),
    )


def invalidate_where(
    spark: SparkSession,
    root: str,
    source: str,
    bucket: int,
    stages: list[str] | None = None,
) -> int:
    """Invalidate one (source, bucket) work unit across stages. Handles
    both key layouts the pipeline writes: ``source/bucket`` (blocks) and
    ``tier/source/bucket`` (tier stages) via exact-match-or-suffix."""
    unit = f"{source}/{bucket}"
    cond = (F.col("partition_key") == unit) | F.col("partition_key").endswith(
        "/" + unit
    )
    if stages is not None:
        cond = cond & F.col("stage").isin(stages)
    return _rewrite_without(spark, root, cond)


def _rewrite_without(spark: SparkSession, root: str, cond) -> int:
    rows = read_checkpoint(spark, root).collect()  # tiny (module docstring)
    # a local frame over the collected rows: the overwrite below never
    # reads the files it replaces
    keep = spark.createDataFrame(rows, CKPT_SCHEMA).filter(~cond)
    removed = len(rows) - keep.count()
    if removed:
        keep.coalesce(1).write.mode("overwrite").parquet(_ckpt_path(root))
    return removed
