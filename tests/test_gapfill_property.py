"""Property tests: the vectorized ffill kernel vs the independent
sequential oracle, across random gap patterns (hypothesis)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

import oracle
from processor_post_timeseries_spark.operators.gapfill import _ffill


@settings(max_examples=300, deadline=None)
@given(
    n=st.integers(1, 200),
    data=st.data(),
    fill_first=st.integers(-5, 5),
)
def test_ffill_matches_sequential_oracle(n, data, fill_first):
    k = data.draw(st.integers(0, n))
    idx = np.array(
        sorted(data.draw(st.sets(st.integers(0, n - 1), min_size=k, max_size=k))),
        dtype=np.int64,
    )
    val = np.array(
        data.draw(st.lists(st.integers(-(2**31), 2**31 - 1), min_size=len(idx), max_size=len(idx))),
        dtype=np.int64,
    )
    got = _ffill(n, idx, val, fill_first)
    exp = oracle.gap_fill_ffill(idx, val, n, fill_first)
    assert got.astype(np.int64).tolist() == exp.tolist()


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, 10_000), min_size=1, max_size=100, unique=True), st.integers(1, 50))
def test_segments_oracle_covers_all_points(idx, gap):
    idx = np.array(sorted(idx))
    segs = oracle.contiguous_segments(idx, gap)
    # segments tile the observed points: every idx in exactly one range
    covered = [i for s, e in segs for i in idx if s <= i < e]
    assert sorted(covered) == idx.tolist()
    # adjacent segments are separated by > gap
    for (s1, e1), (s2, e2) in zip(segs, segs[1:]):
        in_seg1 = idx[(idx >= s1) & (idx < e1)]
        in_seg2 = idx[(idx >= s2) & (idx < e2)]
        assert in_seg2.min() - in_seg1.max() > gap
