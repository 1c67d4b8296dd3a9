"""Catalog seam: Iceberg tables on a configured cluster, plain Parquet
paths in the sandbox — identical engine semantics either way (SURVEY §7).

No Iceberg runtime jar ships in this offline environment, so
``iceberg_available()`` gates the format: when any
``spark.sql.catalog.*`` is configured (a real cluster submitted via
``spark-submit --packages org.apache.iceberg:...``), input tables
resolve to catalog identifiers; otherwise the same logical tables are
hive-partitioned Parquet directories and the engine's checkpoint table
(plans/lineage.py) supplies the snapshot/manifest role.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    confs = spark.sparkContext.getConf().getAll()
    return any(k.startswith("spark.sql.catalog.") for k, _v in confs)


def read_table(spark: SparkSession, locator: str) -> DataFrame:
    """``locator`` = catalog identifier (``cat.db.tbl``) under Iceberg,
    else a filesystem path of a Parquet table."""
    if iceberg_available(spark) and "/" not in locator:
        return spark.read.format("iceberg").load(locator)
    return spark.read.parquet(locator)
