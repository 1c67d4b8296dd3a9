from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

import oracle
from processor_post_timeseries_spark.operators.rollup import (
    cascade_tier,
    rollup_all_tiers,
    source_stats,
    tier1_from_tokens,
    tier_batches,
    tier_points,
)
from processor_post_timeseries_spark.sources.synth import sequences

N_DOCS = 40
TIERS = (("1s", 10), ("1m", 6), ("1h", 6))


@pytest.fixture(scope="module")
def seq(spark):
    df = sequences(spark, N_DOCS, seed=7, min_tok=5, max_tok=500, vocab=1000).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def seq_pd(seq):
    return {r["doc_id"]: (np.array(r["tokens"], np.int64), r["source"]) for r in seq.collect()}


def test_synth_deterministic_across_partitioning(spark):
    a = sequences(spark, 20, seed=3, partitions=1).orderBy("doc_id").collect()
    b = sequences(spark, 20, seed=3, partitions=7).orderBy("doc_id").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_tier1_matches_numpy_oracle(seq, seq_pd):
    t1 = tier1_from_tokens(seq, 10, "1s")
    for r in t1.collect():
        toks, src = seq_pd[r["doc_id"]]
        exp = oracle.window_stats(toks, 10)
        assert r["source"] == src
        assert list(r["mins"]) == exp["mins"].tolist()
        assert list(r["maxs"]) == exp["maxs"].tolist()
        assert list(r["sums"]) == exp["sums"].tolist()
        assert list(r["cnts"]) == exp["cnts"].tolist()
        assert r["n_windows"] == len(exp["mins"])


def test_cascade_equals_direct_from_raw(seq, seq_pd):
    tiers = rollup_all_tiers(seq, TIERS)
    # 1m tier (window 60) must equal direct window-60 stats from raw
    got = {r["doc_id"]: r for r in tiers["1m"].collect()}
    for doc, (toks, _) in seq_pd.items():
        exp = oracle.window_stats(toks, 60)
        r = got[doc]
        assert r["window"] == 60
        assert list(r["sums"]) == exp["sums"].tolist()
        assert list(r["mins"]) == exp["mins"].tolist()
        assert list(r["maxs"]) == exp["maxs"].tolist()
        assert list(r["cnts"]) == exp["cnts"].tolist()
    # 1h tier (window 360)
    got = {r["doc_id"]: r for r in tiers["1h"].collect()}
    for doc, (toks, _) in seq_pd.items():
        exp = oracle.window_stats(toks, 360)
        r = got[doc]
        assert list(r["sums"]) == exp["sums"].tolist()
        assert list(r["cnts"]) == exp["cnts"].tolist()


def test_tier_points_mean_and_totals(seq, seq_pd):
    pts = tier_points(tier1_from_tokens(seq, 10, "1s"))
    total_cnt = pts.agg(F.sum("cnt")).collect()[0][0]
    assert total_cnt == sum(len(t) for t, _ in seq_pd.values())
    row = pts.filter("cnt > 0").first()
    assert row["mean_v"] == round(row["sum_v"] / row["cnt"], 6)


def test_source_stats_exact(seq, seq_pd):
    pts = tier_points(tier1_from_tokens(seq, 10, "1s"))
    got = {r["source"]: r for r in source_stats(pts).collect()}
    exp_sum: dict[str, int] = {}
    exp_cnt: dict[str, int] = {}
    for toks, src in seq_pd.values():
        exp_sum[src] = exp_sum.get(src, 0) + int(toks.sum())
        exp_cnt[src] = exp_cnt.get(src, 0) + len(toks)
    for src, r in got.items():
        assert r["sum_v"] == exp_sum[src]
        assert r["cnt"] == exp_cnt[src]


def test_partitioning_invariance(spark, seq):
    t_a = tier_points(tier1_from_tokens(seq.repartition(1), 10)).orderBy("doc_id", "win_no")
    t_b = tier_points(tier1_from_tokens(seq.repartition(13), 10)).orderBy("doc_id", "win_no")
    assert [r.asDict() for r in t_a.collect()] == [r.asDict() for r in t_b.collect()]


def test_ragged_tail_and_tiny_docs(spark):
    seq = sequences(spark, 10, seed=1, min_tok=1, max_tok=12, vocab=50)
    t1 = tier1_from_tokens(seq, 5, "1s")
    for r in t1.collect():
        n = r["n_tok"] if "n_tok" in r else None
        total = sum(r["cnts"])
        assert total == sum(r["cnts"])  # cnts cover every sample
        assert r["n_windows"] == len(r["mins"]) == len(r["sums"])
    joined = seq.join(t1.withColumnRenamed("source", "s2"), "doc_id")
    for r in joined.select("n_tok", "cnts").collect():
        assert sum(r["cnts"]) == r["n_tok"]


def test_empty_token_arrays_survive_kernels(spark):
    df = spark.createDataFrame(
        [("d0", [], 0, "s"), ("d1", [5, 6, 7], 3, "s"), ("d2", [], 0, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    rows = {r["doc_id"]: r for r in tier1_from_tokens(df, 2, "1s").collect()}
    assert rows["d0"]["n_windows"] == 0 and list(rows["d0"]["sums"]) == []
    assert list(rows["d1"]["sums"]) == [11, 7]
    t2 = {r["doc_id"]: r for r in cascade_tier(tier1_from_tokens(df, 2, "1s"), 2, "1m").collect()}
    assert t2["d2"]["n_windows"] == 0
    assert list(t2["d1"]["sums"]) == [18]


def _token_batch(docs):
    return pa.RecordBatch.from_pydict(
        {
            "doc_id": [d for d, _ in docs],
            "source": ["s"] * len(docs),
            "tokens": pa.array([t for _, t in docs], pa.list_(pa.int32())),
        }
    )


def test_null_tokens_row_raises_naming_the_doc(spark):
    batch = _token_batch([("d0", [1, 2]), ("bad-doc", None)])
    with pytest.raises(ValueError, match="bad-doc"):
        list(tier_batches(batch, TIERS))
    df = spark.createDataFrame(
        [("d0", [1, 2], 2, "s"), ("bad-doc", None, 0, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    with pytest.raises(Exception, match="ValueError.*bad-doc"):
        tier1_from_tokens(df, 2).collect()


def test_kernel_on_sliced_batch_equals_unsliced():
    rng = np.random.default_rng(0)
    docs = [(f"d{i}", rng.integers(-1000, 1000, int(rng.integers(0, 40))).tolist()) for i in range(12)]
    batch = _token_batch(docs)
    sliced = batch.slice(5, 6)  # list offsets start mid-buffer
    assert sliced.column("tokens").offsets[0].as_py() > 0
    got = [b.to_pylist() for b in tier_batches(sliced, TIERS)]
    exp = [b.to_pylist() for b in tier_batches(_token_batch(docs[5:11]), TIERS)]
    assert got == exp
    # and a stored tier re-aggregates the same from a slice
    t1 = next(tier_batches(batch, TIERS[:1]))
    got = [b.to_pylist() for b in tier_batches(t1.slice(5, 6), TIERS[1:])]
    exp = [b.to_pylist() for b in tier_batches(next(tier_batches(_token_batch(docs[5:11]), TIERS[:1])), TIERS[1:])]
    assert got == exp


def test_kernel_from_offset_composes_with_prefix():
    # a doc's suffix, windowed from its offset k, composes with its
    # prefix's windows into the one-shot windows at every tier: the raw
    # window W of a tier straddles the seam exactly when k % W != 0
    tiers = (("a", 3), ("b", 2))
    toks = np.random.default_rng(3).integers(-50, 50, 23).tolist()
    one_shot = [b.to_pylist()[0] for b in tier_batches(_token_batch([("d", toks)]), tiers)]
    for k in range(len(toks) + 1):
        suffix = _token_batch([("d", toks[k:])]).append_column("offset", pa.array([k], pa.int64()))
        prefix = tier_batches(_token_batch([("d", toks[:k])]), tiers)
        # a stored tier's suffix reads the same raw offset
        a, b = tier_batches(suffix, tiers)
        a = a.append_column("offset", pa.array([k], pa.int64()))
        assert next(tier_batches(a, tiers[1:])).to_pylist() == b.to_pylist()
        for p, s, exp in zip(prefix, tier_batches(suffix, tiers), one_shot):
            p, s = p.to_pylist()[0], s.to_pylist()[0]
            got = {c: p[c] + s[c] for c in ("mins", "maxs", "sums", "cnts")}
            if k % exp["window"] and s["n_windows"]:
                for c, u in zip(("mins", "maxs", "sums", "cnts"), (min, max, int.__add__, int.__add__)):
                    got[c][len(p[c]) - 1 : len(p[c]) + 1] = [u(p[c][-1], s[c][0])]
            assert got == {c: exp[c] for c in got}, (k, exp["tier"])
            assert s["window"] == exp["window"]
