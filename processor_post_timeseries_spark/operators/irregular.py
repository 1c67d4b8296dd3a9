"""Explicit per-sample timestamps for the token-sequence model — the
irregular-rate channel path the reference reads from stored
``timestamps`` arrays (``/root/reference/processor/reader.py:62-64,
108-136``) instead of synthesizing an implicit index.

Sequences carry an OPTIONAL ``ts: array<long>`` column (epoch-µs,
position-aligned with ``tokens``). Because a doc's whole stream lives in
one row, every per-doc computation here is a **narrow map over array
expressions** — segmentation, segment extents, and block bounds need no
shuffle at all (contrast ``operators/segments.py``, which sessionizes
row-per-sample tables and must shuffle on the key). At 100 TB that is
the difference between a scan and a sort.

Semantics mirror the reference reader exactly:

* a stream splits where the timestamp delta exceeds the gap threshold,
  default ``2 × (1/rate)`` (``reader.py:199``);
* segments are emitted half-open ``[start_us, end_us)`` with
  ``end_us = last_ts + 1`` (``reader.py:222-225``);
* blocks are cut WITHIN segments into fixed sample-count chunks
  (``writer.py:46-48``), each keyed by its first/last sample's REAL
  µs bounds (``writer.py:90-95``) — not synthetic indices.

Segments, block bounds and payload blocks all come from one gap-rule
pass (``_segment_frame``). Every emitter requires timestamps sorted
within each doc and raises ``timestamps not sorted within doc …``
otherwise; without the check, unsorted input gives wrong segments,
negative-span keys and negative rates with no error. A frame with
``tokens`` must also hold one timestamp per token, or the emitter
raises ``tokens and timestamps differ in length within doc …`` instead
of cutting short payloads or NULL-padded samples. Payload blocks are
read back through ``blocks._reassemble``, the reassembly
``blocks.from_blocks`` uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.codec import dod_decode, dod_encode
from .blocks import _reassemble


def gap_threshold_us(rate_hz: float) -> int:
    """The reference's segmentation threshold: 2 sample periods
    (``/root/reference/processor/reader.py:199``)."""
    return int(round(2.0 * 1_000_000.0 / rate_hz))


def _boundary_positions(ts: Column, gap_us: Column) -> Column:
    """1-based positions p where a NEW segment starts (ts[p]-ts[p-1] >
    gap), prefixed with 1 and suffixed with n+1 — i.e. half-open
    position bounds of every segment. Guarded for n < 2 (sequence(2, n)
    would count DOWN in Spark, not return empty)."""
    n = F.size(ts)
    gaps = F.when(
        n >= 2,
        F.filter(
            F.sequence(F.lit(2), n),
            lambda i: F.element_at(ts, i) - F.element_at(ts, i - 1) > gap_us,
        ),
    ).otherwise(F.array().cast("array<int>"))
    return F.concat(F.array(F.lit(1)), gaps, F.array(n + 1))


def _sorted_nonempty(seq: DataFrame) -> DataFrame:
    """The docs of ``seq`` with at least one sample, behind the checks
    every emitter here shares: timestamps sorted within a doc and, when
    ``seq`` has ``tokens``, one timestamp per token. A filter, not a
    projected column, so column pruning can never drop it."""
    ts = F.col("ts")
    check = F.when(
        F.sort_array(ts) != ts,
        F.raise_error(F.format_string("timestamps not sorted within doc '%s'", "doc_id")),
    )
    if "tokens" in seq.columns:
        check = check.when(
            F.size("tokens") != F.size(ts),
            F.raise_error(
                F.format_string("tokens and timestamps differ in length within doc '%s'", "doc_id")
            ),
        )
    return seq.filter(check.otherwise(F.size(ts) > 0))


def _segment_frame(seq: DataFrame, gap_us: int | Column) -> DataFrame:
    """``seq``'s columns plus one row per gap-delimited segment:
    ``seg_id`` (0-based) and the segment's 1-based half-open positions
    ``[p0, p1)`` into ``ts``. The one place the gap rule is applied."""
    gap = gap_us if isinstance(gap_us, Column) else F.lit(gap_us)
    nb = F.size("_b") - 1
    pairs = F.arrays_zip(F.slice("_b", 1, nb).alias("p0"), F.slice("_b", 2, nb).alias("p1"))
    return (
        _sorted_nonempty(seq)
        .withColumn("_b", _boundary_positions(F.col("ts"), gap))
        .select(*seq.columns, F.posexplode(pairs).alias("seg_id", "_s"))
        .select(*seq.columns, F.col("seg_id").cast("long"), "_s.p0", "_s.p1")
    )


def segments_from_ts_arrays(seq: DataFrame) -> DataFrame:
    """Per-segment extents from array-typed timestamps: one output row
    per (doc, segment) with ``seg_id`` (0-based), half-open µs bounds
    and the sample count. Zero shuffles — pure array expressions +
    one explode."""
    ts = F.col("ts")
    keep = [c for c in seq.columns if c not in ("ts", "tokens")]
    return _segment_frame(seq, 4000).select(
        *keep,
        "seg_id",
        F.element_at(ts, F.col("p0")).alias("seg_start_us"),
        (F.element_at(ts, F.col("p1") - 1) + F.lit(1)).alias("seg_end_us"),
        (F.col("p1") - F.col("p0")).cast("long").alias("n_samples"),
    )


def _block_frame(seq: DataFrame, gap_us: int | Column, block_size: int) -> DataFrame:
    """``seq``'s columns plus one row per ``block_size`` chunk of each
    segment: (seg_id, block_no, start_us, end_us, start_pos, n, key)."""
    ts = F.col("ts")
    b0 = F.col("b0")
    b1 = F.least(b0 + block_size, F.col("p1"))
    return (
        _segment_frame(seq, gap_us)
        .select(
            "*",
            F.posexplode(F.sequence("p0", F.col("p1") - 1, F.lit(block_size))).alias(
                "block_no", "b0"
            ),
        )
        .select(
            *seq.columns,
            "seg_id",
            "block_no",
            F.element_at(ts, b0).alias("start_us"),
            (F.element_at(ts, b1 - 1) + F.lit(1)).alias("end_us"),
            # 0-based, numpy-slice convention — the same base as
            # NWB_CHUNK_SCHEMA: tokens[start_pos : start_pos+n]
            (b0 - 1).cast("long").alias("start_pos"),
            (b1 - b0).cast("int").alias("n"),
        )
        .withColumn(
            "key", F.format_string("%s_%012d_%012d.bin", "doc_id", "start_us", "end_us")
        )
    )


def block_bounds_from_ts_arrays(seq: DataFrame, block_size: int = 131_072) -> DataFrame:
    """Fixed-size block bounds cut WITHIN gap-delimited segments, keyed
    with the real µs extents of each chunk's first/last sample —
    ``{doc}_{start_us}_{end_us}.bin``. NOTE: this is an INTENTIONAL
    deviation from the reference's object naming, not interop with it:
    the reference keys chunks ``channel-{i:05d}_{start}_{end}`` with the
    INCLUSIVE last-sample timestamp, unpadded (``writer.py:90-95``,
    implemented faithfully in ``functions/legacy.py``); this engine
    keys every extent HALF-OPEN (``end_us = last_ts + 1``, zero-padded
    for lexicographic listing order) for consistency with every other
    bound it emits. Returns one row per (doc, seg_id, block_no) with
    (start_us, end_us half-open, start_pos 0-based, n, key). Narrow map
    + two explodes; payload encoding is ``irregular_to_blocks``."""
    return _block_frame(seq, 4000, block_size).drop("ts", "tokens")


def explode_ts_samples(seq: DataFrame) -> DataFrame:
    """(doc_id, pos, ts_us, v) row-per-sample view of an explicit-ts
    sequence — the bridge into the row-oriented operators (resample,
    asof, interval joins). ``arrays_zip`` + ``posexplode`` keep it a
    narrow map; positions are 0-based. Behind the emitters' shared
    check, so unsorted timestamps or a ``tokens``/``ts`` length mismatch
    raise instead of exploding into NULL-padded rows."""
    return _sorted_nonempty(seq).select(
        "doc_id",
        F.posexplode(F.arrays_zip(F.col("ts").alias("ts_us"), F.col("tokens").alias("v"))),
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("col.ts_us").alias("ts_us"),
        F.col("col.v").alias("v"),
    )


def irregular_to_blocks(
    seq: DataFrame,
    gap_us: int = 4000,
    block_size: int = 131_072,
) -> DataFrame:
    """The full explicit-ts write path: the block bounds of
    ``block_bounds_from_ts_arrays`` plus each chunk's tokens AND its
    timestamps, rebased to the block start, DoD-compressed
    (delta-of-delta is the natural codec for near-regular timestamps —
    gaps land as single large deltas). No shuffle; Python runs only the
    codec.

    Output: (doc_id, source, seg_id, block_no, start_us, end_us,
    start_pos, n, payload, ts_payload, key). Round-trip via
    ``irregular_from_blocks``. A block whose rebased timestamps do not
    fit the codec's int32 raises instead of wrapping."""
    start = (F.col("start_pos") + 1).cast("int")
    span = F.col("end_us") - 1 - F.col("start_us")
    rebased = F.when(
        span > F.lit(2**31 - 1),
        F.raise_error(
            F.format_string(
                "block span %d µs exceeds int32 ts-delta encoding (doc %s); "
                f"reduce block_size (= {block_size})",
                span,
                "doc_id",
            )
        ),
    ).otherwise(
        F.transform(
            F.slice("ts", start, "n"), lambda t: (t - F.col("start_us")).cast("int")
        )
    )
    keys = ["doc_id", "source", "seg_id", "block_no", "start_us", "end_us", "start_pos"]
    # ``_chunk`` is read twice, so the slices stay projected below the UDFs:
    # a queued row holds its block, not the doc's ``tokens`` and ``ts``
    return _block_frame(seq, gap_us, block_size).select(
        *keys,
        F.slice("tokens", start, "n").alias("_chunk"),
        rebased.alias("_ts_chunk"),
        "key",
    ).select(
        *keys,
        F.size("_chunk").alias("n"),
        dod_encode("_chunk").alias("payload"),
        dod_encode("_ts_chunk").alias("ts_payload"),
        "key",
    )


def irregular_from_blocks(blocks: DataFrame) -> DataFrame:
    """Inverse of ``irregular_to_blocks``: decode + reassemble per doc in
    (seg_id, block_no) order -> (doc_id, tokens, ts, n_tok, source).
    The reassembly is ``blocks.from_blocks``'s: one shuffle on
    ``doc_id`` and a sorted in-group ``collect_list``."""
    ts = F.transform(dod_decode("ts_payload"), lambda d: d.cast("long") + F.col("start_us"))
    return _reassemble(
        blocks, ["seg_id", "block_no"], tokens=dod_decode("payload"), ts=ts
    ).select("doc_id", "tokens", "ts", F.size("tokens").alias("n_tok"), "source")


def rate_from_ts_arrays(seq: DataFrame, first_k: int = 10) -> DataFrame:
    """Operator A2 for the array model — sampling-rate inference from
    stored timestamps: median delta of the first ``first_k`` samples,
    rate = 1e6/median (reference ``utils.py:6-13`` slices the first 10
    timestamps; ``segments.infer_rate_hz`` is the row-per-sample twin).
    ZERO shuffle: the deltas, their sort, and the median are array
    expressions inside the row. Docs with fewer than 2 samples have no
    deltas and are absent (the reference would divide by nothing).
    Median of an even count is the mean of the middle two — matching
    both ``F.median`` and DuckDB ``MEDIAN`` interpolation."""
    ts = F.col("ts")
    k = F.least(F.size(ts), F.lit(first_k)) - 1  # deltas among the first first_k
    d = F.sort_array(F.zip_with(F.slice(ts, 2, k), F.slice(ts, 1, k), lambda a, b: a - b))
    m = F.size(d)
    # 1-based middle pair: equal for an odd count. m == 0 goes first:
    # ANSI mode raises on element_at index 0, and branch order guards it
    median = F.when(m > 0, (
        F.element_at(d, ((m + 1) / 2).cast("int")) + F.element_at(d, (m / 2).cast("int") + 1)
    ) / F.lit(2.0))
    return (
        _sorted_nonempty(seq)
        .select("doc_id", median.alias("median_delta_us"))
        .filter(F.col("median_delta_us").isNotNull())
        .select(
            "doc_id",
            "median_delta_us",
            F.round(F.lit(1e6) / F.nullif(F.col("median_delta_us"), F.lit(0.0)), 9)
            .cast("double")
            .alias("inferred_rate_hz"),
        )
    )


def tier_from_ts_arrays(seq: DataFrame, window_us: int) -> DataFrame:
    """Time-windowed tier aggregates for explicit-ts sequences — the
    array-model twin of ``rollup.tier1_from_tokens`` (which windows by
    sample COUNT): per (doc, ``ts div window_us``) min/max/sum/count/
    mean over token values. The reference's tiers aggregate per real
    time window when timestamps are stored (``reader.py:108-136`` feeds
    real µs into the chunk bounds).

    Batch-vectorized kernel, zero shuffle: all docs in an Arrow batch
    are concatenated once, window boundaries found with one ``np.diff``
    over (doc, window) keys, and every aggregate is one ``ufunc.reduceat``
    over the combined array — no per-doc Python loop (the rollup.py
    discipline). Unsorted timestamps raise before the kernel runs."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    schema = (
        "doc_id string not null, source string not null, "
        "win_us long not null, min_v int not null, max_v int not null, "  # win_us: window start
        "sum_v long not null, cnt long not null, mean_v double not null"
    )

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            t = np.concatenate([np.asarray(x, dtype=np.int32) for x in pdf["tokens"]])
            ts = np.concatenate([np.asarray(x, dtype=np.int64) for x in pdf["ts"]])
            lens = pdf["ts"].map(len).to_numpy()
            doc_idx = np.repeat(np.arange(len(pdf)), lens)
            w = ts // window_us
            change = (np.diff(doc_idx) != 0) | (np.diff(w) != 0)
            starts = np.concatenate(([0], np.flatnonzero(change) + 1))
            docs = pdf["doc_id"].to_numpy()[doc_idx[starts]]
            srcs = pdf["source"].to_numpy()[doc_idx[starts]]
            sums = np.add.reduceat(t.astype(np.int64), starts)
            cnts = np.diff(np.append(starts, len(t)))
            yield pd.DataFrame(
                {
                    "doc_id": docs,
                    "source": srcs,
                    "win_us": w[starts] * window_us,
                    "min_v": np.minimum.reduceat(t, starts),
                    "max_v": np.maximum.reduceat(t, starts),
                    "sum_v": sums,
                    "cnt": cnts,
                    "mean_v": np.round(sums / cnts, 6),
                }
            )

    return _sorted_nonempty(seq).mapInPandas(kern, schema=schema)


def time_weighted_mean(obs: DataFrame, window_us: int) -> DataFrame:
    """(part, win, twa_num, covered_us) — time-weighted average over an
    irregular row-per-sample series, as an exact integer fraction.

    The irregular-rate complement to the tumbling mean (W5): a plain
    AVG over-weights burst periods; the time-weighted form (the
    hypertable ``time_weight('locf')`` aggregate) weights each
    observation by how long it was current. Each observation ``v_i``
    holds from ``t_i`` until the next observation — or, for a channel's
    final point, until the end of its own window (nothing is invented
    past the observed extent, the engine's reference-derived rule,
    reader.py:222-225). A holding interval spanning multiple windows
    contributes its clipped overlap to each.

    Consumers divide ``twa_num / covered_us`` at display time; both are
    exact int64 (``v`` integral — cents; ``twa_num <= v_max *
    window_us`` per window, ~1e5 * 3.6e9 = 3.6e14 for 1h windows).
    ``covered_us < window_us`` exposes leading/gap-free coverage
    honestly instead of silently renormalizing.

    Plan: one lead() window per channel (the only per-sample ordered
    pass), an interval explode bounded by windows-per-holding-interval,
    one map-side-combined groupBy (part, win). Linear in samples plus
    covered windows — no corpus sort, no per-window subqueries.
    """
    from pyspark.sql import Window

    # value tiebreak: with duplicate timestamps, which observation owns
    # the zero-length (dropped) segment must not depend on engine sort
    # stability
    w = Window.partitionBy("part").orderBy("t", "v")
    t = F.col("t").cast("bigint")
    W = F.lit(window_us).cast("bigint")
    seg = obs.select(
        F.col("part"),
        t.alias("t0"),
        F.col("v").cast("bigint").alias("v"),
        F.coalesce(
            F.lead("t").over(w).cast("bigint"),
            (t - (t % W)) + W,
        ).alias("t1"),
    ).filter(F.col("t1") > F.col("t0"))
    # timestamps are epoch-µs (non-negative), so truncating integer
    # division == floor in every engine — no double arithmetic anywhere
    w0 = F.expr(f"t0 div {window_us}L")
    w1 = F.expr(f"(t1 - 1) div {window_us}L")
    e = seg.select(
        "part", "t0", "t1", "v", F.explode(F.sequence(w0, w1)).alias("win")
    )
    lo = F.greatest(F.col("t0"), F.col("win") * W)
    hi = F.least(F.col("t1"), (F.col("win") + 1) * W)
    ov = (hi - lo).alias("ov")
    return (
        e.select("part", "win", "v", ov)
        .groupBy("part", "win")
        .agg(
            F.sum(F.col("v") * F.col("ov")).alias("twa_num"),
            F.sum("ov").alias("covered_us"),
        )
    )
