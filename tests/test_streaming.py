from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

import oracle
from processor_post_timeseries_spark.streaming.stream_rollup import stream_sessionize


def test_stream_sessionize_batch_twin(spark):
    # session_window on a batch frame == lag/cumsum sessionizer semantics
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for user, offsets in [(1, [0, 10, 20, 3600, 3620]), (2, [0, 5000])]:
        for o in offsets:
            rows.append((user, base + dt.timedelta(seconds=o)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["user_id"], r["seg_start_us"]): r["n_samples"]
        for r in stream_sessionize(df).collect()
    }
    exp_sessions = {(1, 0): 3, (1, 3600): 2, (2, 0): 1, (2, 5000): 1}
    base_us = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    assert got == {
        (u, base_us + s * 1_000_000): n for (u, s), n in exp_sessions.items()
    }


def test_stream_sliding_counts_finalized_windows_match_batch(spark, tmp_path):
    """Append-mode sliding windows: every emitted (finalized) row must
    equal the batch-computed truth, and the watermark must have
    finalized a healthy prefix of windows."""
    import os

    from processor_post_timeseries_spark.streaming.stream_rollup import (
        stream_sliding_counts,
    )

    in_dir, out_dir, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ev.write.parquet(in_dir)

    src = spark.readStream.schema(ev.schema).parquet(in_dir)
    q = (
        stream_sliding_counts(src)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r["win_start_us"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out_dir).collect()
        if r["n_events"] is not None
    }
    truth = {
        (r["win_start_us"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in stream_sliding_counts(ev).collect()
    }
    assert got, "watermark finalized no windows"
    for k, v in got.items():
        assert truth[k] == v, k
    # at least every window ending >1 watermark before max ts is final
    max_us = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    expected_final = {k for k in truth if k[0] + 7_200_000_000 < max_us - 3_600_000_000}
    assert expected_final <= set(got)
