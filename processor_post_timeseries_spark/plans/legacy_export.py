"""Reference-workflow parity export: the artifact set a user of the
reference gets from its chunk writer, produced distributed.

Reference lifecycle (``/root/reference/processor/main.py:26-44`` +
``writer.py:46-99`` + ``clients/import_client.py``): per channel, cut
the ordered samples into fixed-size chunks, write each chunk as
``channel-{index:05d}_{start_us}_{end_us}.bin.gz`` (big-endian float64,
gzip level 0), one ``channel-{index:05d}.metadata.json`` per channel,
then batch an import manifest preserving insertion order.

Spark-first shape: chunking/bounds/encoding are DataFrame ops (W3/W4 +
the legacy codec pandas UDF); file materialization happens inside ONE
``mapInPandas`` pass — each task writes only its own partition's
files (the executor-side object-store upload pattern, S9) and emits a
(file_name, n_bytes, n_samples) receipt row, so the manifest is built
from what actually landed on disk, never from the plan.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.legacy import (
    channel_metadata_json,
    encode_legacy_block,
    legacy_metadata_key,
)
from .lineage import assign_manifest_batches, calculate_batch_size

_RECEIPT_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType(), False),
        T.StructField("channel_index", T.LongType(), False),
        T.StructField("start_us", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), False),
    ]
)


def channel_blocks(events: DataFrame, chunk_size: int) -> DataFrame:
    """W3/W4 over an events-like table: per channel, ordered samples cut
    into chunk_size blocks with µs frame bounds:
    (channel_index, block_no, start_us, end_us, values array<double>)."""
    # parquet timestamps may arrive as TIMESTAMP_NTZ; the session tz is
    # pinned UTC (session.py), so the cast is UTC wall-clock
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(ts_us, F.col("event_id"))
    numbered = events.select(
        F.col("user_id").cast("bigint").alias("channel_index"),
        ts_us.alias("ts_us"),
        F.col("value").cast("double").alias("v"),
        F.col("event_id").alias("_tb"),
        ((F.row_number().over(w) - 1) / chunk_size).cast("bigint").alias("block_no"),
    )
    return (
        numbered.groupBy("channel_index", "block_no")
        .agg(
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("ts_us", "_tb", "v"))),
                lambda s: s["v"],
            ).alias("values"),
        )
    )


def export_legacy_channels(
    spark: SparkSession,
    events: DataFrame,
    out_dir: str,
    chunk_size: int = 1_000,
) -> dict[str, str]:
    """Write the full reference artifact set under ``out_dir``; returns
    {"blocks": dir, "metadata": dir, "manifest": parquet path}.

    The manifest rows preserve per-channel, per-block insertion order
    (the reference's across-batch ordering guarantee) and are batched by
    the sampled-mean-entry-size rule.
    """
    os.makedirs(out_dir, exist_ok=True)
    blocks = channel_blocks(events, chunk_size)

    def write_block_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            names, idxs, starts, sizes, counts = [], [], [], [], []
            for r in pdf.itertuples(index=False):
                payload = encode_legacy_block(r.values)
                name = f"channel-{int(r.channel_index):05d}_{int(r.start_us)}_{int(r.end_us)}.bin.gz"
                with open(os.path.join(out_dir, name), "wb") as f:
                    f.write(payload)
                names.append(name)
                idxs.append(int(r.channel_index))
                starts.append(int(r.start_us))
                sizes.append(len(payload))
                counts.append(len(r.values))
            yield pd.DataFrame(
                {
                    "file_name": names,
                    "channel_index": idxs,
                    "start_us": starts,
                    "n_bytes": sizes,
                    "n_samples": counts,
                }
            )

    receipts = blocks.mapInPandas(write_block_files, schema=_RECEIPT_SCHEMA)
    # receipts certify bytes on disk; persist them as the manifest source
    receipts_path = os.path.join(out_dir, "_receipts")
    receipts.write.mode("overwrite").parquet(receipts_path)
    receipts = spark.read.parquet(receipts_path)
    # the reference key carries (index, start, end) only — two blocks of
    # one channel whose samples all share a timestamp would collide and
    # silently clobber each other; fail loudly instead of losing data
    counts = receipts.groupBy().agg(
        F.count("*").alias("n"), F.countDistinct("file_name").alias("d")
    ).collect()[0]
    if counts["n"] != counts["d"]:
        raise ValueError(
            f"legacy export: {counts['n'] - counts['d']} block file-name "
            "collisions (blocks with identical (channel, start_us, end_us) "
            "— duplicate-timestamp data cannot use the legacy key format)"
        )

    # -- channel metadata sidecars (S6) ------------------------------------
    ext = (
        events.groupBy("user_id")
        .agg(
            F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("start_us"),
            F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("end_us"),
            F.count("*").alias("n"),
        )
        .select(
            F.col("user_id").cast("bigint").alias("channel_index"),
            legacy_metadata_key(F.col("user_id")).alias("file_name"),
            channel_metadata_json(
                name=F.concat(F.lit("channel-"), F.col("user_id").cast("string")),
                start_us=F.col("start_us"),
                end_us=F.col("end_us"),
                # (n-1) intervals span (end-start) µs: for uniform sampling
                # this equals the reference's 1/median(diff) exactly, so
                # import's synthesized index/rate timestamps round-trip
                rate=F.round(
                    (F.col("n") - 1) * 1e6
                    / F.greatest(F.col("end_us") - F.col("start_us"), F.lit(1)),
                    6,
                ),
                group=F.lit("default"),
            ).alias("meta_json"),
        )
    )

    meta_schema = T.StructType(
        [
            T.StructField("file_name", T.StringType(), False),
            T.StructField("n_bytes", T.LongType(), False),
        ]
    )

    def write_meta_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            sizes = []
            for r in pdf.itertuples(index=False):
                data = r.meta_json.encode()
                with open(os.path.join(out_dir, r.file_name), "wb") as f:
                    f.write(data)
                sizes.append(len(data))
            yield pd.DataFrame({"file_name": pdf["file_name"], "n_bytes": sizes})

    ext.mapInPandas(write_meta_files, schema=meta_schema).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "_meta_receipts"))

    # -- ordered import manifest (S8/L2/A4) --------------------------------
    entries = receipts.select(
        F.col("file_name").alias("upload_key"),
        F.concat(F.lit(out_dir.rstrip("/") + "/"), "file_name").alias("file_path"),
        "channel_index",
        "start_us",
    ).withColumn("order_key", F.format_string("%010d/%020d", "channel_index", "start_us"))
    bs = calculate_batch_size(entries, "order_key")
    manifest = assign_manifest_batches(entries, bs, "order_key").select(
        "batch_no", "pos_in_batch", "global_pos", "upload_key", "file_path"
    )
    manifest_path = os.path.join(out_dir, "_manifest")
    manifest.write.mode("overwrite").parquet(manifest_path)
    return {"blocks": out_dir, "metadata": out_dir, "manifest": manifest_path}
