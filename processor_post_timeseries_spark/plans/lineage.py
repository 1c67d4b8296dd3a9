"""Per-partition lineage + checkpoint table -> mid-pipeline resumability.

North-rule requirement: "every stage writes per-partition lineage rows
(input files, row counts, checksums) plus metrics to an Iceberg checkpoint
table so the job is resumable mid-pipeline".  The reference's analog is
the import manifest — the unit of commit/lineage for uploads
(``/root/reference/processor/clients/import_client.py:95-136``).

Protocol
--------
* Work unit = one physical partition key (e.g. ``(source, bucket)``).
* A stage writes its output partition-first (``partitionOverwriteMode=
  dynamic``), then reads the *written* files back to compute lineage
  stats (row_count, xor-of-xxhash64 checksum, n_bytes via input files) —
  so a checkpoint row certifies bytes on disk, not an in-memory plan.
* Resume = anti-join the stage's work units against checkpoint rows with
  ``status='done'`` (a unit that spans one partition per tier is done
  when all of them are); completed partitions are never recomputed,
  and re-writing a partition is idempotent (dynamic overwrite).

Sandbox note: no Iceberg runtime jar is available offline, so the
checkpoint table is an append-only Parquet table behind the same API
(``catalog seam``, SURVEY.md §7); on a cluster with an Iceberg catalog
the identical code targets ``format("iceberg")`` commits.
"""

from __future__ import annotations

import os
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CKPT_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("row_count", T.LongType(), False),
        T.StructField("checksum", T.LongType(), False),
        T.StructField("input_files", T.ArrayType(T.StringType()), True),
        T.StructField("status", T.StringType(), False),
    ]
)


def _ckpt_path(root: str) -> str:
    return os.path.join(root, "_checkpoint")


def read_checkpoint(spark: SparkSession, root: str) -> DataFrame:
    path = _ckpt_path(root)
    try:
        return spark.read.schema(CKPT_SCHEMA).parquet(path)
    except Exception:
        return spark.createDataFrame([], CKPT_SCHEMA)


def completed_keys(spark: SparkSession, root: str, stage: str) -> DataFrame:
    """Distinct done partition_keys for a stage: (partition_key)."""
    return (
        read_checkpoint(spark, root)
        .filter((F.col("stage") == stage) & (F.col("status") == "done"))
        .select("partition_key")
        .distinct()
    )


def record_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    written_df: DataFrame,
    key_cols: list[str],
    run_id: str,
    only_keys: DataFrame | None = None,
) -> DataFrame:
    """Append done-rows for partitions of a written stage output.

    ``written_df`` must be a read-back of the stage's files so lineage
    certifies durable bytes (input_files from ``input_file_name()``).
    ``only_keys`` restricts recording to the partitions this run wrote
    (broadcast semi-join on its columns, which may be a suffix of
    ``key_cols`` such as the (source, bucket) unit of a tiered stage;
    applied after the file stamp because input_file_name() must bind to
    a single scan).
    """
    stats = _partition_stats(written_df, key_cols, only_keys).select(
        F.lit(stage).alias("stage"),
        "partition_key",
        F.lit(run_id).alias("run_id"),
        "row_count",
        "checksum",
        "input_files",
        F.lit("done").alias("status"),
    )
    # concurrent pipeline stages (plans/pipeline.py) may append lineage at
    # the same time; the Hadoop committer shares one _temporary dir per
    # output path, so serialize this (tiny) append within the process
    with _CKPT_WRITE_LOCK:
        stats.write.mode("append").parquet(_ckpt_path(root))
    return stats


_CKPT_WRITE_LOCK = threading.Lock()


def _partition_stats(
    df: DataFrame, key_cols: list[str], only_keys: DataFrame | None = None
) -> DataFrame:
    """(partition_key, row_count, checksum, input_files) per partition of
    ``df``: row count and xor of each row's xxhash64 over all columns.
    The one spelling of the lineage stats, so ``verify_lineage``
    recomputes exactly what ``record_stage`` recorded (its unused
    ``input_files`` aggregate is pruned from the plan)."""
    stamped = df.withColumn(
        "_h", F.xxhash64(*[F.col(c) for c in df.columns])
    ).withColumn("_file", F.input_file_name())
    if only_keys is not None:
        stamped = stamped.join(F.broadcast(only_keys), only_keys.columns, "left_semi")
    return (
        stamped.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.expr("bit_xor(_h)").alias("checksum"),
            F.array_distinct(F.collect_list("_file")).alias("input_files"),
        )
        .select(
            F.concat_ws("/", *[F.col(c).cast("string") for c in key_cols]).alias(
                "partition_key"
            ),
            "row_count",
            "checksum",
            "input_files",
        )
    )


def pending_only(
    df: DataFrame, spark: SparkSession, root: str, stage: str, key_cols: list[str],
    n_parts: int = 1,
) -> DataFrame:
    """Filter a stage input down to work units without a done checkpoint
    — the resume anti-join. The unit (``key_cols``) is the last
    ``len(key_cols)`` fields of a partition_key, and it is done once
    ``n_parts`` distinct keys of it are (a unit whose stage writes one
    partition per tier is done when every tier is). Checkpoint side is
    tiny -> broadcast."""
    unit = F.substring_index("partition_key", "/", -len(key_cols))
    # collect_set, not a distinct-count: one aggregation (one exchange)
    # over the checkpoint, which may hold a key twice after a re-record
    done = (
        read_checkpoint(spark, root)
        .filter((F.col("stage") == stage) & (F.col("status") == "done"))
        .groupBy(unit.alias("_pk"))
        .agg(F.size(F.collect_set("partition_key")).alias("n"))
        .filter(F.col("n") >= n_parts)
        .select("_pk")
    )
    keyed = df.withColumn(
        "_pk", F.concat_ws("/", *[F.col(c).cast("string") for c in key_cols])
    )
    return keyed.join(F.broadcast(done), "_pk", "left_anti").drop("_pk")


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


# ------------------------------------------------------------- manifests
# The reference's import manifest is batched by a sampled mean entry size
# and preserves global insertion order across batches; these re-express
# that as engine operators (A4 + L2 import side).

MAX_REQUEST_SIZE_BYTES = 10 * 1024 * 1024  # reference import_client.py:14
DEFAULT_BATCH_SIZE = 1000

# serialized manifest entry is {"upload_key": "K", "file_path": "P"} with
# json.dumps' default separators plus one joining comma:
# 35 fixed chars + the two value lengths + 1  (import_client.py:176-178)
_ENTRY_OVERHEAD = 36


def calculate_batch_size(
    entries: DataFrame,
    order_col: str,
    key_col: str = "upload_key",
    path_col: str = "file_path",
    max_size_bytes: int = MAX_REQUEST_SIZE_BYTES,
    sample_n: int = 100,
) -> int:
    """A4 — manifest batch sizing from a sampled mean entry size with an
    80% safety margin (reference
    ``/root/reference/processor/clients/import_client.py:161-190``).
    The reference samples its list's first 100 entries; a DataFrame has
    no order, so ``order_col`` pins the sample deterministically
    (TakeOrdered — no full sort). Assumes manifest values need no JSON
    escaping (true for object keys/paths)."""
    sample = (
        entries.orderBy(order_col)
        .limit(sample_n)
        .select(
            (
                F.length(key_col) + F.length(path_col) + F.lit(_ENTRY_OVERHEAD)
            ).alias("entry_len")
        )
        .agg(F.sum("entry_len").alias("s"), F.count("*").alias("n"))
        .collect()[0]
    )
    if not sample["n"]:
        return DEFAULT_BATCH_SIZE
    avg = sample["s"] / sample["n"]
    return max(1, int(max_size_bytes * 0.8 / avg))


def assign_manifest_batches(
    entries: DataFrame, batch_size: int, order_col: str
) -> DataFrame:
    """L2 (import side) — batch assignment that preserves global insertion
    order across batches (reference behavior pinned by
    ``/root/reference/tests/test_import_client.py:279``): entry k lands in
    batch k//batch_size at offset k%batch_size, so concatenating batches
    in batch_no order reproduces the input order exactly.

    The global row_number is a driver-visible ordering over MANIFEST
    entries (one per uploaded file, not per data row) — small by
    construction; the single-partition window is deliberate and bounded.
    """
    from pyspark.sql.window import Window

    w = Window.orderBy(order_col)
    pos = F.row_number().over(w) - 1
    return (
        entries.withColumn("global_pos", pos.cast("bigint"))
        .withColumn("batch_no", F.floor(F.col("global_pos") / batch_size).cast("bigint"))
        .withColumn(
            "pos_in_batch", (F.col("global_pos") % batch_size).cast("bigint")
        )
    )


def verify_lineage(
    spark: SparkSession,
    root: str,
    stage: str,
    data_path: str,
    key_cols: list[str],
) -> DataFrame:
    """Audit a stage's checkpoint against its durable bytes: recompute
    per-partition row_count and xor-of-xxhash64 checksum from the data
    files and full-outer-join the checkpoint rows. Returns
    (partition_key, ok, ck_rows, data_rows, ck_checksum, data_checksum);
    ``ok`` is false on any count/checksum mismatch, a checkpointed
    partition with no data, or data with no checkpoint row. This is the
    operational twin of the driver-certified ``s8_lineage_certify``."""
    ck = (
        read_checkpoint(spark, root)
        .filter((F.col("stage") == stage) & (F.col("status") == "done"))
        .select(
            "partition_key",
            F.col("row_count").alias("ck_rows"),
            F.col("checksum").alias("ck_checksum"),
        )
    )
    recomputed = _partition_stats(spark.read.parquet(data_path), key_cols).select(
        "partition_key",
        F.col("row_count").alias("data_rows"),
        F.col("checksum").alias("data_checksum"),
    )
    j = ck.join(recomputed, "partition_key", "full_outer")
    return j.select(
        "partition_key",
        (
            F.col("ck_rows").isNotNull()
            & F.col("data_rows").isNotNull()
            & (F.col("ck_rows") == F.col("data_rows"))
            & (F.col("ck_checksum") == F.col("data_checksum"))
        ).alias("ok"),
        "ck_rows",
        "data_rows",
        "ck_checksum",
        "data_checksum",
    )
