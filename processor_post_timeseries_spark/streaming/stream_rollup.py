"""Structured Streaming wrappers (SURVEY.md §2.9).

The reference is strictly batch (one file in, files out —
``/root/reference/processor/main.py:26`` asserts a single input), so
streaming is an engine extension, not parity work. Two wrappers:

* ``stream_sessionize`` — the reference's gap detection (W1) as its
  streaming twin: ``session_window(ts, gap)`` + watermark for late data.
  Needs state; Spark's session-window state store handles it.
* ``stream_sliding_counts`` — the batch ``w8_sliding_windows`` query's
  hopping windows, kept incrementally: append mode emits a window once
  the watermark passes its end, so every sink row is final.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_sessionize(events: DataFrame) -> DataFrame:
    """Streaming W1: per-``user_id`` session windows (30-minute gap)
    with a 1-hour late-data watermark.
    Works on both streaming and batch DataFrames (batch = exact result,
    used by tests to cross-check against the lag/cumsum sessionizer)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.col("user_id"), F.session_window(F.col("ts"), "30 minutes"))
        .agg(
            F.count("*").alias("n_samples"),
            F.min("ts").alias("seg_start"),
            F.max("ts").alias("seg_end"),
        )
        .select(
            "user_id",
            "n_samples",
            F.unix_micros(F.col("seg_start").cast("timestamp")).alias("seg_start_us"),
            F.unix_micros(F.col("seg_end").cast("timestamp")).alias("seg_end_us"),
        )
    )


def stream_sliding_counts(events: DataFrame) -> DataFrame:
    """Streaming W8: per-``event_type`` 2-hour windows sliding by 1 hour,
    with a 1-hour late-data watermark — the overlap semantics the batch ``w8_sliding_windows``
    query certifies, maintained incrementally. Append mode emits a
    window only once the watermark passes its end, so sink rows are
    FINAL (exactly the property a tier sink needs: no in-place updates).
    Batch callers get the exact full result."""
    win = F.window(F.col("ts"), "2 hours", "1 hour")
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("win_start_us"),
            F.unix_micros(F.col("w.end").cast("timestamp")).alias("win_end_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
