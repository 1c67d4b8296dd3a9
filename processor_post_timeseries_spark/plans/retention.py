"""Retention enforcement — the third leg of the north rule's
"rollup + downsample + retention" pipeline: expire old raw/tier data by
DROPPING whole time partitions, never by rewriting surviving rows.

Layout contract: tier outputs partitioned ``tier=<name>/day=<n>`` (see
``write_time_partitioned``), where ``day = win_start_us div 86.4e9``.
Retention then degenerates to directory deletes — the parquet-seam
analog of Iceberg ``ALTER TABLE ... DROP PARTITION`` / expire-snapshot
maintenance (SURVEY.md §2: Iceberg jar absent offline, same seam as
``sources/catalog.py``). Cost is O(partitions), zero data reads, zero
rewrites — the only retention shape that survives 100 TB.

The keep/drop DECISION is a pure DataFrame function
(``retention_decisions``) certified by the driver contract
(``retention_policy`` query); the destructive path applies exactly
those decisions and records each drop in a ``_retention_log`` (the
underscore prefix hides it from Spark/Hive directory scans), so an
auditor can reconstruct what was expired and when.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DAY_US = 86_400_000_000


@dataclass(frozen=True)
class RetentionPolicy:
    """keep_days per tier; a tier absent from the mapping is kept
    forever (the reference never deletes what it wasn't told to)."""

    keep_days: dict[str, int]


def write_time_partitioned(tiers: DataFrame, path: str) -> None:
    """Materialize a tier DataFrame partitioned by (tier, day) so
    retention can drop partitions instead of rewriting files."""
    (
        tiers.withColumn("day", F.floor(F.col("win_start_us") / DAY_US).cast("long"))
        .repartition("tier", "day")
        .write.mode("overwrite")
        .partitionBy("tier", "day")
        .parquet(path)
    )


def retention_decisions(
    partitions: DataFrame, policy: RetentionPolicy, now_day: int
) -> DataFrame:
    """Pure decision function: (tier, day) -> kept. A partition is kept
    iff its tier has no policy or ``day > now_day - keep_days`` (the
    most recent ``keep_days`` days survive, half-open cutoff)."""
    spark = partitions.sparkSession
    pol = spark.createDataFrame(
        list(policy.keep_days.items()) or [("", 0)], "tier string, keep_days int"
    ).filter(F.col("tier") != "")
    return (
        partitions.select("tier", "day")
        .distinct()
        .join(F.broadcast(pol), "tier", "left")
        .select(
            "tier",
            "day",
            (
                F.col("keep_days").isNull()
                | (F.col("day") > F.lit(now_day) - F.col("keep_days"))
            ).alias("kept"),
        )
    )


def _hadoop_fs(spark: SparkSession):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return jvm.org.apache.hadoop.fs.FileSystem.get(conf), jvm.org.apache.hadoop.fs.Path


def list_partitions(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Enumerate (tier, day) partitions from the DIRECTORY LISTING —
    metadata-only, no file footers touched (the manifest read an Iceberg
    catalog would do). Raises ``ValueError`` when the root holds any
    visible entry that is not a ``tier=`` directory (the pipeline's own
    ``source=/bucket=`` output, say): a policy over a layout it cannot
    see would drop nothing and still write its log there."""
    fs, Path = _hadoop_fs(spark)
    out: list[tuple[str, int]] = []
    root = Path(path)
    if not fs.exists(root):
        return out
    for t in fs.listStatus(root):
        tname = t.getPath().getName()
        if tname.startswith(("_", ".")):
            continue
        if not (t.isDirectory() and tname.startswith("tier=")):
            raise ValueError(
                f"{path} is not a tier=<name>/day=<n> layout: found {tname!r}. Only "
                "write_time_partitioned output is a retention input; the pipeline's "
                "own tiers output has no time column to expire by"
            )
        for d in fs.listStatus(t.getPath()):
            dname = d.getPath().getName()
            if d.isDirectory() and dname.startswith("day="):
                out.append((tname[5:], int(dname[4:])))
    return sorted(out)


def apply_retention(
    spark: SparkSession,
    path: str,
    policy: RetentionPolicy,
    now_day: int,
    dry_run: bool = False,
) -> DataFrame:
    """Enforce the policy at ``path``: drop expired (tier, day)
    directories and append an audit row per partition to
    ``{path}/_retention_log``. Returns the decisions DataFrame
    (tier, day, kept). ``dry_run`` skips both the deletes and the log."""
    parts = list_partitions(spark, path)
    parts_df = spark.createDataFrame(parts or [("", -1)], "tier string, day long").filter(
        F.col("day") >= 0
    )
    decisions = retention_decisions(parts_df, policy, now_day).persist()
    drops = [(r["tier"], r["day"]) for r in decisions.filter(~F.col("kept")).collect()]
    if not dry_run:
        # audit FIRST, destroy second: a crash mid-run must leave a log
        # of what was about to be (and may have been) expired — the
        # other order destroys data with no record
        (
            decisions.withColumn("now_day", F.lit(now_day))
            .write.mode("append")
            .parquet(f"{path}/_retention_log")
        )
        fs, Path = _hadoop_fs(spark)
        for tier, day in drops:
            fs.delete(Path(f"{path}/tier={tier}/day={day}"), True)
    return decisions
