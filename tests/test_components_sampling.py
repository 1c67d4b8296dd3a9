"""Semantics tests for duplicate_components (hash-min connected
components), stratified/hash sampling, and ngram_freq_topk."""

from __future__ import annotations

import pytest

from processor_post_timeseries_spark.operators.dedup import duplicate_components
from processor_post_timeseries_spark.operators.sampling import (
    hash_sample,
    stratified_sample,
)


@pytest.fixture(scope="module")
def spark():
    from processor_post_timeseries_spark.session import get_spark

    return get_spark("test-comps", master="local[4]")


# thresholds exercising BOTH execution paths: driver union-find
# (small-graph fast path, the default at these sizes) and the
# distributed pointer-doubling loop (forced via local_edge_threshold=0)
BOTH_PATHS = pytest.mark.parametrize("thresh", [1_000_000, 0])


class TestComponents:
    @BOTH_PATHS
    def test_chain_and_clique_merge(self, spark, thresh):
        # chain 1-2-3-4 (diameter 3, needs >1 propagation round) plus a
        # separate pair {9,10}
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (9, 10)], "doc_a long, doc_b long"
        )
        out = {r["doc_id"]: (r["comp_id"], r["comp_size"]) for r in duplicate_components(pairs, local_edge_threshold=thresh).collect()}
        assert out == {
            1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4),
            9: (9, 2), 10: (9, 2),
        }

    def test_duplicate_edges_and_self_loops_are_harmless(self, spark):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 1), (1, 2), (3, 3)], "doc_a long, doc_b long"
        )
        out = {r["doc_id"]: r["comp_id"] for r in duplicate_components(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 3}

    def test_empty_pairs(self, spark):
        pairs = spark.createDataFrame([], "doc_a long, doc_b long")
        assert duplicate_components(pairs).count() == 0

    @BOTH_PATHS
    def test_partition_invariance(self, spark, thresh):
        rows = [(i, i + 1) for i in range(0, 30, 2)] + [(0, 29)]
        pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
        a = sorted(map(tuple, duplicate_components(pairs.repartition(1), local_edge_threshold=thresh).collect()))
        b = sorted(map(tuple, duplicate_components(pairs.repartition(13), local_edge_threshold=thresh).collect()))
        assert a == b

    def test_local_and_distributed_paths_agree(self, spark):
        import random

        rng = random.Random(11)
        edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(60)]
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        local = sorted(map(tuple, duplicate_components(pairs).collect()))
        dist = sorted(map(tuple, duplicate_components(pairs, local_edge_threshold=0).collect()))
        assert local == dist


class TestSampling:
    def test_stratified_exact_quota_and_determinism(self, spark):
        rows = [(f"s{g}", i) for g in range(3) for i in range(g * 100, g * 100 + 10 + g)]
        df = spark.createDataFrame(rows, "grp string, id long")
        out = stratified_sample(df, "grp", "id", num=1, den=4)
        per = {}
        for r in out.collect():
            per.setdefault(r["grp"], []).append(r["id"])
        # quotas: ceil(10/4)=3, ceil(11/4)=3, ceil(12/4)=3
        assert {g: len(v) for g, v in per.items()} == {"s0": 3, "s1": 3, "s2": 3}
        again = stratified_sample(df.repartition(7), "grp", "id", num=1, den=4)
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))

    def test_stratified_small_stratum_keeps_one(self, spark):
        df = spark.createDataFrame([("a", 1)], "grp string, id long")
        assert stratified_sample(df, "grp", "id", num=1, den=100).count() == 1

    def test_stratified_rank_window_is_bucketed(self, spark):
        """100-TB guard (VERDICT r3 scale-killer #2): the corpus-sized
        row_number window must partition by (stratum, _bkt) — md5-prefix
        buckets — never the stratum alone."""
        import re

        df = spark.createDataFrame(
            [("g", i) for i in range(100)], "grp string, id long"
        )
        out = stratified_sample(df, "grp", "id", num=1, den=4)
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        rank_specs = [
            s
            for s in re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan)
        ]
        assert rank_specs and all("_bkt" in s for s in rank_specs), rank_specs

    def test_stratified_rank_matches_single_window_semantics(self, spark):
        """sample_rank values (not just membership) equal the naive
        per-stratum (md5, id) rank at any bucket granularity."""
        import hashlib

        rows = [("a", i) for i in range(40)] + [("b", i) for i in range(7)]
        df = spark.createDataFrame(rows, "grp string, id long")
        got = {
            (r["grp"], r["id"]): r["sample_rank"]
            for r in stratified_sample(df, "grp", "id", num=1, den=2).collect()
        }
        for grp in ("a", "b"):
            ids = [i for g, i in rows if g == grp]
            order = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
            quota = (len(ids) + 1) // 2
            expect = {(grp, i): rank + 1 for rank, i in enumerate(order[:quota])}
            for k, v in expect.items():
                assert got[k] == v
        assert len(got) == (40 + 1) // 2 + (7 + 1) // 2

    def test_mixture_rates_empty_targets_take_zero(self, spark):
        """ADVICE r3: empty/all-zero targets must yield n_tok_take = 0
        and rate = 0.0 consistently — not NULL takes."""
        from processor_post_timeseries_spark.operators.sampling import mixture_rates

        df = spark.createDataFrame(
            [("d1", 100, "a"), ("d2", 50, "b")],
            "doc_id string, n_tok int, source string",
        )
        for tgt in ({}, {"a": 0.0}):
            rows = mixture_rates(df, tgt).collect()
            assert {r["source"] for r in rows} == {"a", "b"}
            assert all(r["n_tok_take"] == 0 and r["rate"] == 0.0 for r in rows)

    def test_mixture_rates_binding_source_and_exact_shares(self, spark):
        from processor_post_timeseries_spark.operators.sampling import mixture_rates

        # avail: a=1000, b=300, c=9999 (untargeted). targets 0.5/0.5:
        # T = min(1000/.5, 300/.5) = 600 -> take 300+300, b binds (rate 1)
        df = spark.createDataFrame(
            [("d1", 1000, "a"), ("d2", 300, "b"), ("d3", 9999, "c")],
            "doc_id string, n_tok int, source string",
        )
        out = {r["source"]: r for r in mixture_rates(df, {"a": 0.5, "b": 0.5}).collect()}
        assert out["b"]["rate"] == 1.0 and out["b"]["n_tok_take"] == 300
        assert out["a"]["rate"] == 0.3 and out["a"]["n_tok_take"] == 300
        assert out["c"]["rate"] == 0.0 and out["c"]["n_tok_take"] == 0
        # realized mixture is exactly the target
        takes = {s: r["n_tok_take"] for s, r in out.items() if r["rate"] > 0}
        total = sum(takes.values())
        assert takes["a"] / total == 0.5 and takes["b"] / total == 0.5

    def test_mixture_targeted_absent_source_drives_T_to_zero(self, spark):
        from processor_post_timeseries_spark.operators.sampling import mixture_rates

        df = spark.createDataFrame(
            [("d1", 1000, "a")], "doc_id string, n_tok int, source string"
        )
        out = {r["source"]: r for r in mixture_rates(df, {"a": 0.5, "ghost": 0.5}).collect()}
        # 'ghost' has zero tokens: the target mixture is unachievable,
        # so NOTHING is taken — never a silent renormalization to 100% a
        assert set(out) == {"a", "ghost"}
        assert out["ghost"]["n_tok_avail"] == 0 and out["ghost"]["rate"] == 0.0
        assert out["a"]["n_tok_take"] == 0 and out["a"]["rate"] == 0.0

    def test_apply_mixture_edges_and_determinism(self, spark):
        from processor_post_timeseries_spark.operators.sampling import (
            apply_mixture,
            mixture_rates,
        )

        rows = [(f"d{i}", 10, ["a", "b", "c"][i % 3]) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id string, n_tok int, source string")
        rates = mixture_rates(df, {"a": 0.9, "b": 0.1})
        out = apply_mixture(df, rates).collect()
        by_src = {}
        for r in out:
            by_src.setdefault(r["source"], set()).add(r["doc_id"])
        # binding source a keeps everything (rate 1), c is dropped entirely
        assert len(by_src["a"]) == 100 and "c" not in by_src
        # b keeps ~ rate 1/9 of its 100 docs (hash draw, not exact quota)
        assert 2 <= len(by_src.get("b", set())) <= 30
        # deterministic under repartitioning
        again = apply_mixture(df.repartition(13), rates).collect()
        assert {(r["source"], r["doc_id"]) for r in again} == {
            (r["source"], r["doc_id"]) for r in out
        }

    def test_hash_sample_stable_under_growth(self, spark):
        small = spark.createDataFrame([(i,) for i in range(100)], "id long")
        big = spark.createDataFrame([(i,) for i in range(1000)], "id long")
        picked_small = {r["id"] for r in hash_sample(small, "id", 1, 4).collect()}
        picked_big = {r["id"] for r in hash_sample(big, "id", 1, 4).collect()}
        # membership of the first 100 ids is identical in both corpora
        assert picked_small == {i for i in picked_big if i < 100}
        # rate is in the right ballpark (1/4 of 1000, binomial 3-sigma)
        assert 180 <= len(picked_big) <= 320


class TestNgramTopk:
    def test_counts_are_occurrences_not_distinct(self, spark):
        from processor_post_timeseries_spark.functions.text import ngram_freq_topk

        df = spark.createDataFrame(
            [("s", "a b a b a"), ("s", "a b"), ("s", "x")],
            "source string, text string",
        )
        out = {(r["gram"]): (r["n_occ"], r["rank"]) for r in ngram_freq_topk(df, k=10).collect()}
        # "a b" occurs 2x in doc1 + 1x in doc2 = 3; "b a" 2x; "x" has no bigram
        assert out == {"a b": (3, 1), "b a": (2, 2)}

    def test_long_chain_converges_via_pointer_doubling(self, spark):
        # a 200-link chain has diameter 200: plain hash-min needs ~200
        # rounds, pointer doubling needs ~log2(200)+slack. max_iters=12
        # only succeeds if the shortcut actually works.
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(200)], "doc_a long, doc_b long"
        )
        out = duplicate_components(pairs, max_iters=12, local_edge_threshold=0).collect()
        assert len(out) == 201
        assert all(r["comp_id"] == 0 and r["comp_size"] == 201 for r in out)

    def test_exact_vs_union_find_on_random_graph(self, spark):
        import random

        rng = random.Random(7)
        edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r["doc_id"]: r["comp_id"]
            for r in duplicate_components(pairs, local_edge_threshold=0).collect()
        }

        # reference: plain union-find with min-relabel
        parent = {}
        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for x, y in edges:
            parent.setdefault(x, x); parent.setdefault(y, y)
            parent[find(x)] = find(y)
        comps = {}
        for n in parent:
            comps.setdefault(find(n), []).append(n)
        expected = {n: min(members) for members in comps.values() for n in members}
        assert got == expected
