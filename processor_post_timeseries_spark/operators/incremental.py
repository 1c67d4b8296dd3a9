"""Incremental (append-only) tier maintenance — merge late-arriving
token appends into already-materialized tier aggregates WITHOUT
re-reading the raw history.

The tier layout (``rollup.TIER_SCHEMA``) stores per-window
``(min, max, sum, cnt)`` arrays — partial aggregates, mergeable by
construction (that is why tiers never store means). An append of
``k`` tokens to a doc whose stream already holds ``offset`` tokens is
the tier kernel (``rollup.tier_batches``) run over those ``k`` tokens
from phase ``offset``: when ``offset % window != 0`` its first window is
partial and composes with the stored last window; every later window is
appended as is. Cost: one shuffle of the (small) delta + one of the
touched docs' tier rows — the raw corpus is never rescanned, which is
the only affordable maintenance shape at 100 TB.

Kernel shape: one ``mapInArrow`` pass over stored rows full-outer-joined
with the delta. It lays out per doc the stored windows, then the delta's
from ``tier_batches``, and composes the seam with one ``ufunc.reduceat``
per statistic (``rollup._COMPOSE``): no window arithmetic of its own.

Correctness contract (certified by ``w10_incremental_append``):
ingest(first half) then append(second half) produces BIT-IDENTICAL tier
rows to one-shot ingest(full stream).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rollup import _COMPOSE, _STATS, TIER_SCHEMA, _tier_batch, tier_batches


def _flat(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(per-row lengths, flat int64 values) of a list column whose NULL
    rows (docs with no stored row) count as empty."""
    lens = pc.list_value_length(arr).fill_null(0).to_numpy().astype(np.int64)
    return lens, pc.list_flatten(arr).to_numpy().astype(np.int64, copy=False)


def _append_batch(batch: pa.RecordBatch, window: int) -> pa.RecordBatch:
    """One batch of full-outer-joined (stored tier row | delta) rows ->
    the updated ``TIER_SCHEMA`` rows, in the batch's row order."""
    n = batch.num_rows
    has_e, has_d = (batch.column(c).is_valid().to_numpy(zero_copy_only=False) for c in ("e_has", "d_has"))

    def fail(mask: np.ndarray, what) -> None:
        if mask.any():
            i = int(np.flatnonzero(mask)[0])
            doc = batch.column("doc_id")[i].as_py()
            raise ValueError(f"append_tokens_to_tiers: doc {doc} {what(i)}")

    e_window = batch.column("e_window").fill_null(window).to_numpy()
    e_tier = batch.column("e_tier").fill_null("1s")
    fail(
        (e_window != window) | ~pc.equal(e_tier, "1s").to_numpy(zero_copy_only=False),
        lambda i: f"is stored as tier {e_tier[i]} window {e_window[i]}, "
        f"not tier 1s window {window}",
    )

    # the deltas' windows, from each doc's offset (NULL tokens or offset
    # raise in the kernel, naming the doc)
    d = batch.filter(pa.array(has_d))
    delta = next(
        tier_batches(
            pa.RecordBatch.from_arrays(
                [d.column(c) for c in ("doc_id", "d_source", "d_tokens", "d_offset")],
                names=["doc_id", "source", "tokens", "offset"],
            ),
            (("1s", window),),
        )
    )
    off = np.zeros(n, np.int64)
    off[has_d] = d.column("d_offset").to_numpy()

    e_lens, e_cnts = _flat(batch.column("e_cnts"))
    cum = np.concatenate([[0], np.cumsum(e_cnts)])
    ends = np.cumsum(e_lens)
    ingested = cum[ends] - cum[ends - e_lens]
    fail(
        has_d & (off != ingested),
        lambda i: f"offset {off[i]} != ingested {ingested[i]}"
        if has_e[i]
        else f"has offset {off[i]} but no existing tier row",
    )

    # per doc: its stored windows, then its delta's; a delta starting
    # mid-window composes its first window with the stored last one
    d_lens = np.zeros(n, np.int64)
    d_lens[has_d] = delta.column("n_windows").to_numpy()
    order = np.argsort(
        np.concatenate([np.repeat(np.arange(n), e_lens), np.repeat(np.arange(n), d_lens)]),
        kind="stable",
    )
    seam = (off % window != 0) & (d_lens > 0)
    first = np.ones(len(order), bool)
    first[(np.cumsum(e_lens + d_lens) - d_lens)[seam]] = False
    starts = np.flatnonzero(first)
    stats = []
    for u, s in zip(_COMPOSE, _STATS):
        vals = np.concatenate([_flat(batch.column(f"e_{s}"))[1], _flat(delta.column(s))[1]])[order]
        stats.append(u.reduceat(vals, starts) if len(starts) else vals)
    return _tier_batch(
        batch.column("doc_id"),
        pc.coalesce(batch.column("e_source"), batch.column("d_source")),
        "1s",
        np.full(n, window, np.int64),
        e_lens + d_lens - seam,
        stats,
    )


def _mark_seen(ids: list, seen: set) -> None:
    """Add a batch's doc ids to its task's ``seen``. A doc met twice had
    two stored rows or two delta rows, which the join turned into two
    rows: raise, naming it."""
    for d in ids:
        if d in seen:
            raise ValueError(f"append_tokens_to_tiers: doc {d} has more than one stored "
                             "tier row or delta row")
        seen.add(d)


def append_tokens_to_tiers(existing: DataFrame, delta: DataFrame, window: int) -> DataFrame:
    """Merge token appends into tier-1 aggregate rows.

    * ``existing`` — TIER_SCHEMA rows (one per doc) for tier ``1s`` and
      ``window``; a stored row of another tier or window raises.
    * ``delta`` — (doc_id, tokens, source, offset): ``offset`` is the
      doc's already-ingested token count (0 for brand-new docs). An
      ``offset`` that disagrees with the existing row's ingested count
      raises inside the kernel — silent double-ingest corrupts sums — and
      so does a NULL ``tokens`` or ``offset``, or a doc with two delta
      rows or two stored rows (each would pass the offset check on its
      own and come out as its own tier row).
    * Docs without a delta pass through untouched; brand-new docs get
      fresh rows. Output is TIER_SCHEMA again, so the result can be
      written back over the touched partitions or fed to cascade_tier.
    """
    e = existing.select(
        "doc_id",
        F.lit(True).alias("e_has"),
        F.col("source").alias("e_source"),
        F.col("tier").alias("e_tier"),
        F.col("window").alias("e_window"),
        *(F.col(s).alias(f"e_{s}") for s in _STATS),
    )
    d = delta.select(
        "doc_id",
        F.lit(True).alias("d_has"),
        F.col("source").alias("d_source"),
        F.col("tokens").alias("d_tokens"),
        F.col("offset").cast("long").alias("d_offset"),
    )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # the join puts every row of a doc in one task, not in one batch
        seen: set = set()
        for batch in batches:
            if batch.num_rows:
                _mark_seen(batch.column("doc_id").to_pylist(), seen)
                yield _append_batch(batch, window)

    return e.join(d, "doc_id", "full_outer").mapInArrow(kernel, TIER_SCHEMA)
