"""Cascading continuous aggregates (raw -> 1s -> 1m -> 1h retention tiers).

North-rule operator W5/A6 (SURVEY.md §2.5-2.6). The reference only tracks
per-channel extents (``/root/reference/processor/reader.py:146-175``); the
cascade itself is new, designed Spark-first.

Scale design
------------
Each sequence's token stream is one channel, sample index = time. A tier
window therefore never crosses a row, so the whole cascade is a **narrow
map** — ZERO shuffles at any scale. Exploding to one row per token
(10^12+ rows) and shuffling on ``(doc, window)`` would be the naive plan;
we keep block form end to end. Cross-doc/source stats are tiny tier
summaries and shuffle only those.

One kernel (``tier_batches``, run through ``mapInArrow``) computes every
tier. It reads a list column's offsets and values straight from the Arrow
batch; raw tokens enter as a window-1 tier (min = max = sum = token,
cnt = 1), and each tier is one ``ufunc.reduceat`` per statistic over the
tier below it. Tiers leave as Arrow batches whose list columns are built
from the reduced values and their window offsets — no per-doc Python
objects and no pandas frame on either side of the boundary.
``fused_tiers`` runs the whole cascade in one crossing; the single-tier
entry points (``tier1_from_tokens``, ``cascade_tier``) run the same kernel
over one factor. Given a doc's ``offset`` into its stream, the kernel
starts its windows at that phase, so an append (``incremental.py``) is the
same kernel too: one window rule (``_window_starts``) for batch and append.

Determinism: sums are int64 over int32 tokens (exact, order-free); mean
is derived at read time as ``sum/cnt`` (never accumulated in float), per
SURVEY.md §7 "hard parts".

Tier windows: sizes in samples, e.g. raw->1s = ``rate`` samples, 1s->1m =
60, 1m->1h = 60 (the reference's channels are fixed-rate streams,
``/root/reference/processor/timeseries_channel.py:28-31``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# (doc_id, source, tier, window, n_windows, mins, maxs, sums, cnts)
TIER_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("tier", T.StringType(), False),
        T.StructField("window", T.LongType(), False),  # samples per window
        T.StructField("n_windows", T.IntegerType(), False),
        T.StructField("mins", T.ArrayType(T.LongType(), False), False),
        T.StructField("maxs", T.ArrayType(T.LongType(), False), False),
        T.StructField("sums", T.ArrayType(T.LongType(), False), False),
        T.StructField("cnts", T.ArrayType(T.LongType(), False), False),
    ]
)

DEFAULT_TIERS = (("1s", 100), ("1m", 60), ("1h", 60))  # factors vs previous tier


_STATS = ("mins", "maxs", "sums", "cnts")
# composition rules, in _STATS order: min of mins, max of maxes, sum of
# sums, sum of cnts — exact tier-k -> tier-k+1 algebra (A6)
_COMPOSE = (np.minimum, np.maximum, np.add, np.add)
_COLS = [f.name for f in TIER_SCHEMA.fields]


def _window_starts(lengths, w: int, phase):
    """Combined window-start boundaries for a batch of per-doc arrays laid
    end to end: returns (starts, per-doc window counts, total windows).

    ``phase`` (per doc, in ``[0, w)``) is how far into its first window a
    doc's array begins: a doc of ``n > 0`` elements has
    ``(phase + n + w - 1) // w`` windows, window ``j`` starting
    ``max(0, j*w - phase)`` elements in. Phase 0 is a doc's whole stream;
    a non-zero phase is an append whose first window is partial."""
    lens = np.asarray(lengths, dtype=np.int64)
    phase = np.asarray(phase, dtype=np.int64)
    nws = np.where(lens > 0, (phase + lens + w - 1) // w, 0)
    total = int(nws.sum())
    if total == 0:
        return np.empty(0, np.int64), nws, 0
    doc_off = np.concatenate([[0], np.cumsum(lens)[:-1]])
    win_off = np.concatenate([[0], np.cumsum(nws)[:-1]])
    j = np.arange(total) - np.repeat(win_off, nws)
    starts = np.repeat(doc_off, nws) + np.maximum(0, j * w - np.repeat(phase, nws))
    return starts, nws, total


def _no_nulls(batch: pa.RecordBatch, name: str) -> None:
    """Raise naming the first doc whose ``name`` is NULL."""
    arr = batch.column(name)
    if arr.null_count:
        row = pc.index(arr.is_null(), True).as_py()
        doc = batch.column("doc_id")[row].as_py()
        raise ValueError(f"NULL {name} for doc_id {doc!r}")


def _list_values(batch: pa.RecordBatch, name: str) -> tuple[np.ndarray, np.ndarray]:
    """(per-row lengths, flat values in the column's own dtype) of a list
    column, read from its offsets without a copy. A sliced batch's offsets
    need not start at 0. A NULL row raises: its offsets span no values, so
    it would otherwise pass as an empty doc."""
    _no_nulls(batch, name)
    arr = batch.column(name)
    off = arr.offsets.to_numpy()
    vals = arr.values.slice(off[0], off[-1] - off[0]).to_numpy()
    return np.diff(off), vals


def _tier_batch(doc_id, source, name: str, window, lengths, stats) -> pa.RecordBatch:
    """A ``TIER_SCHEMA`` batch from per-doc window counts (``lengths``) and
    the flat per-window ``stats`` laid out doc after doc."""
    offsets = pa.array(np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32))
    return pa.RecordBatch.from_arrays(
        [
            doc_id,
            source,
            pa.array([name] * len(lengths), pa.string()),
            pa.array(window),
            pa.array(lengths.astype(np.int32)),
            *(pa.ListArray.from_arrays(offsets, pa.array(v)) for v in stats),
        ],
        names=_COLS,
    )


def tier_batches(
    batch: pa.RecordBatch, tiers: tuple[tuple[str, int], ...]
) -> Iterator[pa.RecordBatch]:
    """The tier kernel: one ``TIER_SCHEMA`` batch per tier of ``tiers``,
    each composed from the one below it.

    ``batch`` holds ``doc_id``, ``source`` and either raw ``tokens`` or a
    stored tier's ``window`` and mins/maxs/sums/cnts. Each tier costs one
    ``ufunc.reduceat`` per statistic over the batch's concatenated
    values; windows never straddle docs because each doc's offset is
    itself a window start.

    An optional int64 ``offset`` column is each doc's position in its
    stream, in raw tokens (0 when absent). Each tier then starts at phase
    ``pos % factor``, carrying ``pos //= factor`` down the cascade, so the
    windows compose at the seam with those before the offset.
    """
    n = batch.num_rows
    if "tokens" in batch.schema.names:
        lengths, vals = _list_values(batch, "tokens")
        vals = vals.astype(np.int64, copy=False)
        stats = (vals, vals, vals, np.ones(len(vals), np.int64))
        window = np.ones(n, np.int64)
    else:
        cols = [_list_values(batch, c) for c in _STATS]
        lengths, stats = cols[0][0], tuple(v.astype(np.int64, copy=False) for _, v in cols)
        window = batch.column("window").to_numpy()
    pos = np.zeros(n, np.int64)
    if "offset" in batch.schema.names:
        _no_nulls(batch, "offset")
        pos = batch.column("offset").to_numpy().astype(np.int64) // window
    for name, factor in tiers:
        starts, lengths, total = _window_starts(lengths, factor, pos % factor)
        pos //= factor
        stats = tuple(u.reduceat(v, starts) if total else v[:0] for u, v in zip(_COMPOSE, stats))
        window = window * factor
        yield _tier_batch(batch.column("doc_id"), batch.column("source"), name, window, lengths, stats)


def _map_tiers(df: DataFrame, tiers, inputs: list[str]) -> DataFrame:
    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                yield from tier_batches(batch, tiers)

    return df.select("doc_id", "source", *inputs).mapInArrow(kernel, TIER_SCHEMA)


def tier1_from_tokens(seq_df: DataFrame, window: int, tier: str = "1s") -> DataFrame:
    """Raw -> first tier. Narrow map: no shuffle, no explode."""
    return _map_tiers(seq_df, ((tier, window),), ["tokens"])


def cascade_tier(prev: DataFrame, factor: int, tier: str) -> DataFrame:
    """Tier k -> k+1 by re-aggregating the previous tier's arrays —
    exact composition, still a narrow per-row map."""
    return _map_tiers(prev, ((tier, factor),), ["window", *_STATS])


def fused_tiers(
    seq_df: DataFrame, tiers: tuple[tuple[str, int], ...] = DEFAULT_TIERS
) -> DataFrame:
    """ALL retention tiers in one narrow pass (rows tagged by ``tier``).

    Semantics identical to ``rollup_all_tiers`` — tier k+1 is composed
    from tier k inside the same kernel — but the plan touches the raw
    ``tokens`` once and produces one output. The pipeline runs the same
    ``tier_batches`` in its own ingest kernel (``plans/pipeline.py``).
    """
    return _map_tiers(seq_df, tiers, ["tokens"])


def rollup_all_tiers(
    seq_df: DataFrame, tiers: tuple[tuple[str, int], ...] = DEFAULT_TIERS
) -> dict[str, DataFrame]:
    """Full cascade. Returns {tier_name: tier_df}. Each tier derives from
    the previous (never recomputed from raw), per the north rule."""
    out: dict[str, DataFrame] = {}
    prev: DataFrame | None = None
    for name, factor in tiers:
        prev = tier1_from_tokens(seq_df, factor, name) if prev is None else cascade_tier(prev, factor, name)
        out[name] = prev
    return out


def tier_points(tier_df: DataFrame) -> DataFrame:
    """Exploded per-window points view (for oracles / downstream SQL):
    (doc_id, source, tier, window, win_no, min_v, max_v, sum_v, cnt, mean_v).
    Mean derived at read: exact int sum / exact int cnt, rounded(6)."""
    z = F.arrays_zip("mins", "maxs", "sums", "cnts").alias("z")
    ex = tier_df.select(
        "doc_id", "source", "tier", "window", F.posexplode(z).alias("win_no", "p")
    )
    return ex.select(
        "doc_id",
        "source",
        "tier",
        "window",
        "win_no",
        F.col("p.mins").alias("min_v"),
        F.col("p.maxs").alias("max_v"),
        F.col("p.sums").alias("sum_v"),
        F.col("p.cnts").alias("cnt"),
        F.round(F.col("p.sums").cast("double") / F.col("p.cnts"), 6).alias("mean_v"),
    )


def source_stats(points: DataFrame) -> DataFrame:
    """Cross-doc per-source tier stats — the only shuffling aggregate, over
    already-reduced tier points (input is ~n_tokens/window rows)."""
    return points.groupBy("source", "tier").agg(
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
        F.sum("sum_v").alias("sum_v"),
        F.sum("cnt").alias("cnt"),
        F.count("*").alias("n_windows"),
    )


def rollup_upsert(
    existing_points: DataFrame,
    delta_seq: DataFrame,
    tiers: tuple[tuple[str, int], ...],
    tier: str,
) -> DataFrame:
    """Incremental continuous-aggregate maintenance (the TimescaleDB
    refresh semantics the reference's tiers would need under
    re-ingestion): given the materialized tier POINTS of a corpus and a
    delta of re-ingested docs (full replacement token arrays), produce
    the tier points of the updated corpus WITHOUT touching any
    unchanged doc.

    result = existing_points ⟕anti delta_ids  ∪  rollup(delta)

    The anti-join removes EVERY window of a replaced doc (so shrunken
    streams drop their trailing windows — the correctness trap of
    patch-style updates); only the delta is re-rolled, through the same
    zero-shuffle cascade as a full run. At scale the anti-join is a
    broadcast of the delta's doc ids and the write is a dynamic
    partition overwrite of the touched (source, bucket) partitions —
    the plan the pipeline already uses (plans/pipeline.py).

    ``existing_points``/result schema = ``tier_points`` of
    ``rollup_all_tiers(seq, tiers)[tier]``."""
    fresh = tier_points(rollup_all_tiers(delta_seq, tiers)[tier])
    ids = delta_seq.select(F.col("doc_id")).distinct()
    kept = existing_points.join(F.broadcast(ids), "doc_id", "left_anti")
    return kept.unionByName(fresh)
