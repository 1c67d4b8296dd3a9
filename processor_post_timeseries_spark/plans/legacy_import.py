"""Ingest the reference's on-disk artifact set back into engine tables.

A reference user's EXISTING output — ``channel-{index:05d}_{start_us}_
{end_us}.bin.gz`` block files plus ``channel-{index:05d}.metadata.json``
sidecars (``/root/reference/processor/writer.py:73-99``, ``constants.py``)
— becomes DataFrames again:

* blocks: Spark's ``binaryFile`` source scans the directory (S7), the
  object key is parsed with the legacy key regex (P8), the payload is
  decoded big-endian float64 from gzip (P5);
* samples: the reference stores no per-sample timestamps — they are a
  pure function of (start_us, rate) — so timestamps are SYNTHESIZED
  lazily on explode (S4, the lazy timestamp source:
  ``/root/reference/processor/reader.py:109-117`` computes
  ``index / rate`` exactly the same way);
* channels: metadata sidecars parse through ``channel_from_json``
  (the from_dict-equivalent, alias + defaults included).

Together with ``legacy_export`` this closes the migration loop:
export(import(x)) == x and import(export(df)) == df, tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.legacy import channel_from_json, legacy_decode

_KEY_RE = r"channel-([0-9]{5,})_([0-9]+)_([0-9]+)\.bin\.gz$"


def read_legacy_blocks(spark: SparkSession, in_dir: str) -> DataFrame:
    """Block files -> (channel_index, start_us, end_us, values).

    ``binaryFile`` streams each object once; the decode is the pandas
    UDF ``functions.legacy.legacy_decode``. Column pruning works
    normally — a metadata-only query on this frame never decodes
    payloads (laziness is per-column)."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "channel-*.bin.gz")
        .load(in_dir)
    )
    name = F.element_at(F.split(F.col("path"), "/"), -1)
    return raw.select(
        F.regexp_extract(name, _KEY_RE, 1).cast("bigint").alias("channel_index"),
        F.regexp_extract(name, _KEY_RE, 2).cast("bigint").alias("start_us"),
        F.regexp_extract(name, _KEY_RE, 3).cast("bigint").alias("end_us"),
        legacy_decode(F.col("content")).alias("values"),
    )


def read_legacy_channels(spark: SparkSession, in_dir: str) -> DataFrame:
    """Metadata sidecars -> one normalized channel row per file
    (name/rate/start/end/type/type_valid/group/last_annotation/
    properties/id), via the from_dict-equivalent parser."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "channel-*.metadata.json")
        .load(in_dir)
    )
    name = F.element_at(F.split(F.col("path"), "/"), -1)
    parsed = raw.select(
        F.regexp_extract(name, r"channel-([0-9]{5,})\.metadata\.json$", 1)
        .cast("bigint")
        .alias("channel_index"),
        channel_from_json(F.col("content").cast("string")).alias("c"),
    )
    return parsed.select("channel_index", "c.*")


def legacy_samples(
    blocks: DataFrame, channels: DataFrame | None = None
) -> DataFrame:
    """Explode blocks to per-sample rows with synthesized timestamps
    (S4): sample i of a block gets ``start_us + round(i * 1e6 / rate)``,
    exactly the reference's on-demand ``index / sampling_rate`` rule.
    Without a channels frame the rate is inferred from the block's own
    bounds ((n-1) samples span end-start µs)."""
    if channels is not None:
        rated = blocks.join(
            F.broadcast(channels.select("channel_index", "rate")), "channel_index"
        ).withColumn("_period_us", F.lit(1e6) / F.col("rate"))
    else:
        rated = blocks.withColumn(
            "_period_us",
            (F.col("end_us") - F.col("start_us"))
            / F.greatest(F.size("values") - 1, F.lit(1)),
        )
    ex = rated.select(
        "channel_index",
        "start_us",
        "_period_us",
        F.posexplode("values").alias("i", "value"),
    )
    return ex.select(
        "channel_index",
        (
            F.col("start_us") + F.round(F.col("i") * F.col("_period_us")).cast("bigint")
        ).alias("ts_us"),
        "value",
    )
