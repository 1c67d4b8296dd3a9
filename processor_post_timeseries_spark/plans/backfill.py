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
partitions are never read or rewritten: the resume plans its pending
units on the driver, filters its input to them and reads back only the
partitions it wrote (``plans/pipeline.py``).

The checkpoint table is tiny by construction (one row per partition per
stage), so the rewrite goes through the driver: one job reads it to an
Arrow table with the invalidation condition as a column, the kept rows
are filtered there, and a second job (only when a row matched) writes
them back from that table. A crash between delete and rewrite degrades
to a MISSING checkpoint — the safe direction (resume recomputes more,
never serves stale lineage).
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .lineage import _CKPT_WRITE_LOCK, CKPT_SCHEMA, _ckpt_path, read_checkpoint


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


def invalidate_where(spark: SparkSession, root: str, source: str, bucket: int) -> int:
    """Invalidate one (source, bucket) work unit across stages. Handles
    both key layouts the pipeline writes: ``source/bucket`` (blocks) and
    ``tier/source/bucket`` (tier stages) via exact-match-or-suffix."""
    unit = f"{source}/{bucket}"
    cond = (F.col("partition_key") == unit) | F.col("partition_key").endswith(
        "/" + unit
    )
    return _rewrite_without(spark, root, cond)


def _rewrite_without(spark: SparkSession, root: str, cond) -> int:
    # under the checkpoint's write lock: a lineage append from another of
    # the caller's threads between this read and the overwrite would be lost
    with _CKPT_WRITE_LOCK:
        # one read of the (tiny, module docstring) checkpoint with ``cond``
        # as a column; rows where it is NULL go too, as under filter(~cond)
        ck = read_checkpoint(spark, root).withColumn("_drop", cond).toArrow()
        keep = ck.filter(pc.equal(ck["_drop"], False)).drop_columns("_drop")
        removed = ck.num_rows - keep.num_rows
        if removed:
            # written from the driver's Arrow table: the overwrite never
            # reads the files it replaces, and no Python worker starts
            spark.createDataFrame(keep, CKPT_SCHEMA).coalesce(1).write.mode(
                "overwrite").parquet(_ckpt_path(root))
    return removed
