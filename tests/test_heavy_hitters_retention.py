"""Tests for certified heavy hitters (Misra-Gries two-pass) and the
partition-drop retention plan."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from processor_post_timeseries_spark.operators.heavy_hitters import heavy_hitters
from processor_post_timeseries_spark.plans.retention import (
    DAY_US,
    RetentionPolicy,
    apply_retention,
    list_partitions,
    write_time_partitioned,
)


@pytest.fixture(scope="module")
def spark():
    from processor_post_timeseries_spark.session import get_spark

    return get_spark("test-hh-ret", master="local[4]")


def _exact_topk(rows: list[str], k: int):
    from collections import Counter

    c = Counter(rows)
    return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


class TestHeavyHitters:
    def test_zipf_certified_and_exact(self, spark):
        # zipf-ish: item i appears 1000//(i+1) times. N ~ 4680, so with
        # capacity 30 the certificate threshold is N/31 ~ 151 < kth=200:
        # certified, and eviction genuinely happens (60 items > 30 slots)
        rows = [(f"w{i:02d}",) for i in range(60) for _ in range(1000 // (i + 1))]
        df = spark.createDataFrame(rows, "item string")
        out = heavy_hitters(df, "item", k=5, capacity=30).collect()
        got = [(r["item"], r["n_occ"]) for r in sorted(out, key=lambda r: r["rank"])]
        assert got == _exact_topk([r[0] for r in rows], 5)
        assert all(r["certified"] for r in out)

    def test_flat_distribution_falls_back_but_stays_exact(self, spark):
        # near-uniform: kth count ~ N/vocab far below N/(cap+1) -> the
        # certificate fails and the exact fallback must produce the truth
        rows = [(f"u{i:03d}",) for i in range(200) for _ in range(10 + (i % 3))]
        df = spark.createDataFrame(rows, "item string")
        out = heavy_hitters(df, "item", k=5, capacity=8).collect()
        got = [(r["item"], r["n_occ"]) for r in sorted(out, key=lambda r: r["rank"])]
        assert got == _exact_topk([r[0] for r in rows], 5)
        assert not any(r["certified"] for r in out)

    def test_vocab_within_capacity_is_certified(self, spark):
        rows = [("a",)] * 5 + [("b",)] * 5 + [("c",)] * 5
        out = heavy_hitters(spark.createDataFrame(rows, "item string"), "item", k=2, capacity=16).collect()
        assert all(r["certified"] for r in out)
        assert {r["item"] for r in out} == {"a", "b"}

    def test_partition_invariance(self, spark):
        rows = [(f"w{i:02d}",) for i in range(40) for _ in range(500 // (i + 1))]
        df = spark.createDataFrame(rows, "item string")
        a = heavy_hitters(df.repartition(1), "item", k=5, capacity=8).collect()
        b = heavy_hitters(df.repartition(13), "item", k=5, capacity=8).collect()
        key = lambda r: (r["rank"], r["item"], r["n_occ"], r["certified"])  # noqa: E731
        assert sorted(map(key, a)) == sorted(map(key, b))

    def test_empty_input(self, spark):
        df = spark.createDataFrame([], "item string")
        assert heavy_hitters(df, "item", k=3, capacity=4).count() == 0

    def test_short_candidate_slate_never_certifies_via_threshold(self, spark):
        # skewed data with one giant item + a tail bigger than capacity:
        # MG eviction can leave fewer than k surviving candidates whose
        # min count beats N/(m+1). A short slate must NOT certify (it
        # could silently omit true ranks) — the exact fallback must fill
        # all k rows with the truth.
        rows = (
            [("big",)] * 5000
            + [(f"mid{i}",) for i in range(6) for _ in range(40)]
            + [(f"t{i:03d}",) for i in range(300) for _ in range(2)]
        )
        df = spark.createDataFrame(rows, "item string")
        out = heavy_hitters(df, "item", k=7, capacity=3).collect()
        got = [(r["item"], r["n_occ"]) for r in sorted(out, key=lambda r: r["rank"])]
        assert got == _exact_topk([r[0] for r in rows], 7)
        assert len(out) == 7


class TestRetention:
    def _tiers(self, spark, days=(100, 101, 102, 103)):
        rows = [
            (tier, d * DAY_US + off * 3_600_000_000, float(d))
            for tier in ("raw", "t1m")
            for d in days
            for off in (0, 6)
        ]
        return spark.createDataFrame(rows, "tier string, win_start_us long, v double")

    def test_apply_drops_expired_and_keeps_rest(self, spark, tmp_path):
        path = str(tmp_path / "tiers")
        write_time_partitioned(self._tiers(spark), path)
        assert len(list_partitions(spark, path)) == 8
        # now_day=103: raw keeps 2 days (103,102), t1m keeps all 4
        dec = apply_retention(
            spark, path, RetentionPolicy({"raw": 2, "t1m": 10}), now_day=103
        )
        assert dec.filter(~F.col("kept")).count() == 2
        left = list_partitions(spark, path)
        assert left == [("raw", 102), ("raw", 103), ("t1m", 100), ("t1m", 101), ("t1m", 102), ("t1m", 103)]
        # survivors readable and intact (2 rows per partition)
        df = spark.read.parquet(path)
        assert df.count() == 12
        # audit log written and hidden from the table read
        assert os.path.exists(f"{path}/_retention_log")
        log = spark.read.parquet(f"{path}/_retention_log")
        assert log.count() == 8 and log.filter(~F.col("kept")).count() == 2

    def test_unpolicied_tier_kept_forever(self, spark, tmp_path):
        path = str(tmp_path / "t2")
        write_time_partitioned(self._tiers(spark), path)
        dec = apply_retention(spark, path, RetentionPolicy({"raw": 1}), now_day=200)
        kept = {(r["tier"], r["day"]) for r in dec.filter(F.col("kept")).collect()}
        assert kept == {("t1m", d) for d in (100, 101, 102, 103)}
        assert [p for p in list_partitions(spark, path) if p[0] == "raw"] == []

    def test_dry_run_deletes_nothing(self, spark, tmp_path):
        path = str(tmp_path / "t3")
        write_time_partitioned(self._tiers(spark), path)
        apply_retention(spark, path, RetentionPolicy({"raw": 0}), now_day=999, dry_run=True)
        assert len(list_partitions(spark, path)) == 8
        assert not os.path.exists(f"{path}/_retention_log")

    def test_pipeline_output_is_refused_before_any_write(self, spark, tmp_path):
        """The pipeline's source=/bucket= tiers are not a layout retention
        can read: it raises, and leaves the directory as it found it."""
        from processor_post_timeseries_spark.plans.pipeline import PipelineConfig, run_pipeline
        from processor_post_timeseries_spark.sources.synth import sequences

        out = str(tmp_path / "o")
        seq = sequences(spark, 20, seed=2, min_tok=5, max_tok=60, vocab=100)
        run_pipeline(spark, seq, PipelineConfig(out_dir=out, n_buckets=2, tiers=(("1s", 8),)))
        tiers = f"{out}/tiers"
        before = sorted(os.listdir(tiers))
        with pytest.raises(ValueError, match="tier=<name>/day=<n>") as err:
            apply_retention(spark, tiers, RetentionPolicy({"1s": 0}), now_day=10**6)
        assert "Only write_time_partitioned output is a retention input" in str(err.value)
        assert sorted(os.listdir(tiers)) == before

    def test_empty_dir(self, spark, tmp_path):
        dec = apply_retention(
            spark, str(tmp_path / "nope"), RetentionPolicy({"raw": 1}), now_day=10
        )
        assert dec.count() == 0
