"""append_tokens_to_tiers edge semantics (the contract query certifies
end-state equality statistically; these pin the branches)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from processor_post_timeseries_spark.operators.incremental import (
    append_tokens_to_tiers,
)
from processor_post_timeseries_spark.operators.rollup import (
    tier1_from_tokens,
    tier_points,
)


@pytest.fixture(scope="module")
def spark():
    from processor_post_timeseries_spark.session import get_spark

    return get_spark("test-incr", master="local[4]")


def _seq(spark, rows):
    return spark.createDataFrame(
        [(d, t, len(t), "s") for d, t in rows],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )


def _delta(spark, rows):
    return spark.createDataFrame(
        [(d, t, "s", off) for d, t, off in rows],
        "doc_id string, tokens array<int>, source string, offset long",
    )


def _points(df):
    return {
        (r["doc_id"], r["win_no"]): (r["min_v"], r["max_v"], r["sum_v"], r["cnt"])
        for r in tier_points(df).collect()
    }


class TestIncrementalAppend:
    def test_misaligned_boundary_merge(self, spark):
        # window 4; 6 existing tokens -> windows [0..3],[4,5 partial];
        # append 5 more: 2 complete the boundary window, 3 start the next
        existing = tier1_from_tokens(_seq(spark, [("a", [1, 2, 3, 4, 5, 6])]), 4)
        merged = append_tokens_to_tiers(
            existing, _delta(spark, [("a", [7, 8, 9, 10, 11], 6)]), 4
        )
        got = _points(merged)
        full = _points(tier1_from_tokens(_seq(spark, [("a", list(range(1, 12)))]), 4))
        assert got == full
        assert got[("a", 1)] == (5, 8, 26, 4)  # the merged boundary window

    def test_aligned_append_and_new_doc(self, spark):
        existing = tier1_from_tokens(_seq(spark, [("a", [1, 2, 3, 4])]), 4)
        merged = append_tokens_to_tiers(
            existing,
            _delta(spark, [("a", [9, 9], 4), ("b", [5, 6, 7], 0)]),
            4,
        )
        got = _points(merged)
        assert got[("a", 1)] == (9, 9, 18, 2)
        assert got[("b", 0)] == (5, 7, 18, 3)

    def test_untouched_docs_pass_through(self, spark):
        existing = tier1_from_tokens(
            _seq(spark, [("a", [1, 2]), ("c", [8, 8, 8])]), 4
        )
        merged = append_tokens_to_tiers(existing, _delta(spark, [("a", [3], 2)]), 4)
        got = _points(merged)
        assert got[("c", 0)] == (8, 8, 24, 3)
        assert got[("a", 0)] == (1, 3, 6, 3)

    def test_offset_mismatch_raises(self, spark):
        existing = tier1_from_tokens(_seq(spark, [("a", [1, 2, 3])]), 4)
        merged = append_tokens_to_tiers(existing, _delta(spark, [("a", [4], 7)]), 4)
        with pytest.raises(Exception, match="offset 7 != ingested 3"):
            merged.collect()

    def test_new_doc_with_nonzero_offset_raises(self, spark):
        existing = tier1_from_tokens(_seq(spark, [("a", [1])]), 4)
        merged = append_tokens_to_tiers(existing, _delta(spark, [("z", [4], 3)]), 4)
        with pytest.raises(Exception, match="no existing tier row"):
            merged.collect()

    def test_cascades_compose_after_merge(self, spark):
        from processor_post_timeseries_spark.operators.rollup import cascade_tier

        existing = tier1_from_tokens(_seq(spark, [("a", list(range(8)))]), 2)
        merged = append_tokens_to_tiers(
            existing, _delta(spark, [("a", list(range(8, 16)), 8)]), 2
        )
        t2 = cascade_tier(merged, factor=2, tier="t2")
        full_t2 = cascade_tier(
            tier1_from_tokens(_seq(spark, [("a", list(range(16)))]), 2), 2, "t2"
        )
        assert _points(t2) == _points(full_t2)

    def test_stored_row_of_another_window_or_tier_raises(self, spark):
        existing = tier1_from_tokens(_seq(spark, [("a", [1, 2, 3, 4, 5, 6])]), 4)
        delta = _delta(spark, [("a", [7, 8, 9], 6)])
        with pytest.raises(Exception, match="ValueError.*doc a is stored as tier 1s window 4"):
            append_tokens_to_tiers(existing, delta, 2).collect()
        minute = tier1_from_tokens(_seq(spark, [("a", [1, 2])]), 4, tier="1m")
        with pytest.raises(Exception, match="ValueError.*doc a is stored as tier 1m"):
            append_tokens_to_tiers(minute, _delta(spark, [("a", [3], 2)]), 4).collect()

    def test_a_doc_in_two_delta_rows_raises(self, spark):
        # each delta passes the offset check on its own: without the check
        # the doc came out as two tier rows, cnts [4, 4] and [4, 3]
        existing = tier1_from_tokens(_seq(spark, [("a", [1, 2, 3, 4, 5, 6])]), 4)
        delta = _delta(spark, [("a", [7, 8], 6), ("a", [9], 6)])
        with pytest.raises(Exception, match="ValueError.*doc a has more than one"):
            append_tokens_to_tiers(existing, delta, 4).collect()

    def test_a_doc_in_two_stored_rows_raises_across_batches(self, spark):
        stored = tier1_from_tokens(_seq(spark, [("a", [1, 2]), ("b", [3])]), 4)
        existing = stored.unionByName(stored.filter(F.col("doc_id") == "a"))
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        before = spark.conf.get(conf)
        spark.conf.set(conf, "1")  # the two rows of doc a in two batches
        try:
            merged = append_tokens_to_tiers(existing, _delta(spark, [("b", [4], 1)]), 4)
            with pytest.raises(Exception, match="ValueError.*doc a has more than one"):
                merged.collect()
        finally:
            spark.conf.set(conf, before)

    @pytest.mark.parametrize(
        "row, column",
        [
            (("a", None, 3), "tokens"),  # a stored doc
            (("z", None, 0), "tokens"),  # a new doc
            (("z", [4], None), "offset"),
        ],
    )
    def test_null_delta_column_raises_naming_the_doc(self, spark, row, column):
        existing = tier1_from_tokens(_seq(spark, [("a", [1, 2, 3])]), 4)
        merged = append_tokens_to_tiers(existing, _delta(spark, [row]), 4)
        with pytest.raises(Exception, match=f"ValueError.*NULL {column} for doc_id '{row[0]}'"):
            merged.collect()


_I32 = np.iinfo(np.int32)


@pytest.mark.parametrize("window", [1, 3, 4, 16])
def test_append_equals_one_shot_sweep(spark, window):
    # 60 docs: stored prefix + appended suffix at a random split (the
    # suffix may be empty), new docs appended at offset 0, stored docs
    # with no delta, empty docs; tokens reach the int32 extremes
    rng = np.random.default_rng(window)
    full, stored, delta = [], [], []
    for i in range(60):
        n = int(rng.integers(0, 3 * window + 8)) if i % 10 else 0
        toks = rng.integers(_I32.min, _I32.max, n, endpoint=True)
        toks[rng.random(n) < 0.1] = _I32.min
        toks[rng.random(n) < 0.1] = _I32.max
        doc, toks, kind = f"d{i}", toks.tolist(), i % 4
        full.append((doc, toks))
        k = 0 if kind == 1 else int(rng.integers(0, n + 1))  # kind 1: a new doc
        if kind != 1:
            stored.append((doc, toks if kind == 2 else toks[:k]))
        if kind != 2:  # kind 2: no delta
            delta.append((doc, toks[k:], k))
    got = append_tokens_to_tiers(
        tier1_from_tokens(_seq(spark, stored), window), _delta(spark, delta), window
    )
    exp = tier1_from_tokens(_seq(spark, full), window)
    assert got.columns == exp.columns
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
