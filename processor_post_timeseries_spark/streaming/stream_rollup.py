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


def stream_sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming W1: per-key session windows with late-data watermark.
    Works on both streaming and batch DataFrames (batch = exact result,
    used by tests to cross-check against the lag/cumsum sessionizer)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key), F.session_window(F.col(ts_col), gap))
        .agg(
            F.count("*").alias("n_samples"),
            F.min(ts_col).alias("seg_start"),
            F.max(ts_col).alias("seg_end"),
        )
        .select(
            key,
            "n_samples",
            F.unix_micros(F.col("seg_start").cast("timestamp")).alias("seg_start_us"),
            F.unix_micros(F.col("seg_end").cast("timestamp")).alias("seg_end_us"),
        )
    )


def stream_sliding_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key: str = "event_type",
    width: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming W8: sliding (hopping) windows with a late-data
    watermark — the overlap semantics the batch ``w8_sliding_windows``
    query certifies, maintained incrementally. Append mode emits a
    window only once the watermark passes its end, so sink rows are
    FINAL (exactly the property a tier sink needs: no in-place updates).
    Batch callers get the exact full result."""
    win = F.window(F.col(ts_col), width, slide)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("win_start_us"),
            F.unix_micros(F.col("w.end").cast("timestamp")).alias("win_end_us"),
            key,
            "n_events",
            "sum_value",
        )
    )
