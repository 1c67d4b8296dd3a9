"""Incremental (append-only) tier maintenance — merge late-arriving
token appends into already-materialized tier aggregates WITHOUT
re-reading the raw history.

The tier layout (``rollup.TIER_SCHEMA``) stores per-window
``(min, max, sum, cnt)`` arrays — partial aggregates, mergeable by
construction (that is why tiers never store means). An append of
``k`` tokens to a doc whose stream already holds ``offset`` tokens
touches exactly the windows from ``offset div window`` on: the boundary
window (when ``offset % window != 0``) merges element-wise, every later
window is appended verbatim. Cost: one shuffle of the (small) delta +
one of the touched docs' tier rows — the raw corpus is never rescanned,
which is the only affordable maintenance shape at 100 TB.

Kernel shape: the merge is BATCH-vectorized like the tier kernel
(``rollup.tier_batches``) — one phase-aware ``ufunc.reduceat``
over the batch's concatenated delta tokens, scatter into a flattened
output layout via cumsum offsets, ``np.split`` back per doc. No per-doc
Python loop in the merge path (the same discipline that got the simhash
kernel vectorized).

Correctness contract (certified by ``w10_incremental_append``):
ingest(first half) then append(second half) produces BIT-IDENTICAL tier
rows to one-shot ingest(full stream).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rollup import TIER_SCHEMA

_I64_MAX = np.iinfo(np.int64).max
_I64_MIN = np.iinfo(np.int64).min


def _merge_batch(pdf: pd.DataFrame, window: int, tier: str) -> pd.DataFrame:
    """Vectorized merge of one Arrow batch of full-outer-joined
    (existing tier row | delta) records."""
    n = len(pdf)
    e_arrays = [
        None if v is None or (isinstance(v, float) and pd.isna(v)) else np.asarray(v, np.int64)
        for v in pdf["e_mins"]
    ]
    d_tokens = [
        None if v is None or (isinstance(v, float) and pd.isna(v)) else np.asarray(v, np.int64)
        for v in pdf["d_tokens"]
    ]
    has_e = np.array([a is not None for a in e_arrays])
    has_d = np.array([t is not None for t in d_tokens])

    le = np.array([0 if a is None else len(a) for a in e_arrays], np.int64)
    ld = np.array([0 if t is None else len(t) for t in d_tokens], np.int64)
    off = np.where(
        has_d,
        pd.to_numeric(pdf["d_offset"], errors="coerce").fillna(0).to_numpy(np.int64),
        0,
    )
    phase = off % window
    w0 = off // window
    # windows the delta touches: global positions [off, off+ld)
    nws = np.where(ld > 0, (phase + ld + window - 1) // window, 0)

    # ---- offset validation (vectorized): ingested count per doc -------
    ec_concat = np.concatenate(
        [np.asarray(v, np.int64) for v, h in zip(pdf["e_cnts"], has_e) if h]
        or [np.empty(0, np.int64)]
    )
    ingested = np.zeros(n, np.int64)
    if has_e.any() and len(ec_concat):
        # reduceat misbehaves on zero-length segments: tier rows with 0
        # windows contribute 0 and are excluded from the boundaries
        nz = le[has_e] > 0
        full = np.zeros(int(has_e.sum()), np.int64)
        if nz.any():
            b2 = np.concatenate([[0], np.cumsum(le[has_e][nz])[:-1]])
            full[nz] = np.add.reduceat(ec_concat, b2)
        ingested[has_e] = full
    bad_known = has_e & has_d & (off != ingested)
    bad_new = (~has_e) & has_d & (off != 0)
    if bad_known.any() or bad_new.any():
        i = int(np.flatnonzero(bad_known | bad_new)[0])
        if bool(has_e[i]):
            raise ValueError(
                f"append_tokens_to_tiers: doc {pdf['doc_id'].iloc[i]} "
                f"offset {int(off[i])} != ingested {int(ingested[i])}"
            )
        raise ValueError(
            f"append_tokens_to_tiers: doc {pdf['doc_id'].iloc[i]} "
            f"has offset {int(off[i])} but no existing tier row"
        )

    # ---- delta window stats: ONE reduceat over concatenated tokens ----
    d_idx = np.flatnonzero(has_d & (ld > 0))
    if len(d_idx):
        vals = np.concatenate([d_tokens[i] for i in d_idx])
        doc_off = np.concatenate([[0], np.cumsum(ld[d_idx])[:-1]])
        nws_d = nws[d_idx]
        win_off = np.concatenate([[0], np.cumsum(nws_d)[:-1]])
        total_w = int(nws_d.sum())
        # relative start of window j within a doc: max(0, j*window - phase)
        j = np.arange(total_w) - np.repeat(win_off, nws_d)
        rel = np.maximum(0, j * window - np.repeat(phase[d_idx], nws_d))
        starts = np.repeat(doc_off, nws_d) + rel
        dm = np.minimum.reduceat(vals, starts)
        dx = np.maximum.reduceat(vals, starts)
        ds = np.add.reduceat(vals, starts)
        # docs lie end-to-end, so the start following a doc's last window
        # is exactly the doc's end — the plain shifted-starts ends are
        # already per-doc-correct
        ends = np.concatenate([starts[1:], [len(vals)]])
        dc = ends - starts
    else:
        dm = dx = ds = dc = np.empty(0, np.int64)
        win_off = np.empty(0, np.int64)

    # ---- flattened output layout --------------------------------------
    n_out = np.maximum(le, np.where(has_d, w0 + nws, 0))
    out_off = np.concatenate([[0], np.cumsum(n_out)[:-1]])
    total = int(n_out.sum())
    mins = np.full(total, _I64_MAX)
    maxs = np.full(total, _I64_MIN)
    sums = np.zeros(total, np.int64)
    cnts = np.zeros(total, np.int64)

    # scatter existing rows (positions unique)
    if has_e.any() and le[has_e].sum():
        e_rows = np.flatnonzero(has_e & (le > 0))
        pos_e = np.repeat(out_off[e_rows], le[e_rows]) + (
            np.arange(int(le[e_rows].sum()))
            - np.repeat(np.concatenate([[0], np.cumsum(le[e_rows])[:-1]]), le[e_rows])
        )
        mins[pos_e] = np.concatenate([e_arrays[i] for i in e_rows])
        maxs[pos_e] = np.concatenate([np.asarray(pdf["e_maxs"].iloc[i], np.int64) for i in e_rows])
        sums[pos_e] = np.concatenate([np.asarray(pdf["e_sums"].iloc[i], np.int64) for i in e_rows])
        cnts[pos_e] = np.concatenate([np.asarray(pdf["e_cnts"].iloc[i], np.int64) for i in e_rows])

    # merge delta windows (positions unique per doc; boundary overlap
    # with existing handled by element-wise min/max/+)
    if len(d_idx):
        nws_d = nws[d_idx]
        jj = np.arange(int(nws_d.sum())) - np.repeat(win_off, nws_d)
        pos_d = np.repeat(out_off[d_idx] + w0[d_idx], nws_d) + jj
        mins[pos_d] = np.minimum(mins[pos_d], dm)
        maxs[pos_d] = np.maximum(maxs[pos_d], dx)
        sums[pos_d] += ds
        cnts[pos_d] += dc

    bounds = np.cumsum(n_out)[:-1]
    src = np.where(has_e, pdf["e_source"], pdf["d_source"])
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].values,
            "source": src,
            "tier": tier,
            "window": np.int64(window),
            "n_windows": n_out.astype(np.int32),
            "mins": np.split(mins, bounds),
            "maxs": np.split(maxs, bounds),
            "sums": np.split(sums, bounds),
            "cnts": np.split(cnts, bounds),
        }
    )[[f.name for f in TIER_SCHEMA.fields]]


def append_tokens_to_tiers(
    existing: DataFrame,
    delta: DataFrame,
    window: int,
    tier: str = "1s",
) -> DataFrame:
    """Merge token appends into tier-1 aggregate rows.

    * ``existing`` — TIER_SCHEMA rows (one per doc) for this ``tier``.
    * ``delta`` — (doc_id, tokens, source, offset): ``offset`` is the
      doc's already-ingested token count (0 for brand-new docs). An
      ``offset`` that disagrees with the existing row's ingested count
      raises inside the kernel — silent double-ingest corrupts sums.
    * Docs without a delta pass through untouched; brand-new docs get
      fresh rows. Output is TIER_SCHEMA again, so the result can be
      written back over the touched partitions or fed to cascade_tier.
    """
    e = existing.select(
        F.col("doc_id"),
        F.col("source").alias("e_source"),
        F.col("n_windows").alias("e_nw"),
        F.col("mins").alias("e_mins"),
        F.col("maxs").alias("e_maxs"),
        F.col("sums").alias("e_sums"),
        F.col("cnts").alias("e_cnts"),
    )
    d = delta.select(
        F.col("doc_id"),
        F.col("source").alias("d_source"),
        F.col("tokens").alias("d_tokens"),
        F.col("offset").cast("long").alias("d_offset"),
    )
    joined = e.join(d, "doc_id", "full_outer")

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            yield _merge_batch(pdf, window, tier)

    return joined.mapInPandas(merge, schema=TIER_SCHEMA)
