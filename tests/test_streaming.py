from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

import oracle
from processor_post_timeseries_spark.operators.rollup import tier1_from_tokens
from processor_post_timeseries_spark.sources.synth import sequences
from processor_post_timeseries_spark.streaming.stream_rollup import (
    stream_rollup_available_now,
    stream_sessionize,
)


def test_stream_rollup_available_now_matches_batch(spark, tmp_path):
    in_dir, out_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    seq = sequences(spark, 20, seed=8, min_tok=5, max_tok=200, vocab=500)
    seq.write.mode("overwrite").parquet(in_dir)

    q = stream_rollup_available_now(spark, in_dir, out_dir, ckpt, window=10)
    q.awaitTermination(120)

    got = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    exp = {r["doc_id"]: r for r in tier1_from_tokens(spark.read.parquet(in_dir), 10).collect()}
    assert set(got) == set(exp)
    for d in exp:
        assert list(got[d]["sums"]) == list(exp[d]["sums"])
        assert list(got[d]["cnts"]) == list(exp[d]["cnts"])

    # incremental: new files processed exactly once on the next trigger
    seq2 = sequences(spark, 30, seed=9, min_tok=5, max_tok=100, vocab=500).filter(
        ~F.col("doc_id").isin(list(got))
    )
    seq2.write.mode("append").parquet(in_dir)
    q2 = stream_rollup_available_now(spark, in_dir, out_dir, ckpt, window=10)
    q2.awaitTermination(120)
    total = spark.read.parquet(out_dir).count()
    assert total == spark.read.parquet(in_dir).count()


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
        for r in stream_sessionize(df, gap="30 minutes").collect()
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
