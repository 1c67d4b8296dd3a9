"""Tests for contamination_report and the CLI retention maintenance
mode (in-process main() invocation, same Spark session budget)."""

from __future__ import annotations

import json

import pytest

from processor_post_timeseries_spark.operators.decontam import (
    bloom_decontaminate,
    contamination_report,
)


@pytest.fixture(scope="module")
def spark():
    from processor_post_timeseries_spark.session import get_spark

    return get_spark("test-decontam", master="local[4]")


class TestContamination:
    def test_hits_ratio_and_clean_docs(self, spark):
        corpus = spark.createDataFrame(
            [
                (1, "a b c d e f"),      # grams: "a b c", "b c d", "c d e", "d e f"
                (2, "x y z w q"),        # no overlap
                (3, "a b"),              # too short for n=3 -> absent
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(100, "b c d e")],          # grams: "b c d", "c d e"
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in contamination_report(corpus, bench, n=3).collect()}
        assert set(out) == {1, 2}
        assert (out[1]["n_grams"], out[1]["n_hits"], out[1]["contaminated"]) == (4, 2, True)
        assert out[1]["contamination_ratio"] == 0.5
        assert (out[2]["n_hits"], out[2]["contaminated"]) == (0, False)

    def test_min_hits_threshold(self, spark):
        corpus = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
        bench = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
        out = contamination_report(corpus, bench, n=3, min_hits=2).collect()
        assert out[0]["n_hits"] == 1 and not out[0]["contaminated"]

    def test_duplicate_grams_counted_once(self, spark):
        # "a b a b a" has grams {"a b a", "b a b"} twice each — distinct
        corpus = spark.createDataFrame([(1, "a b a b a")], "doc_id long, text string")
        bench = spark.createDataFrame([(9, "a b a")], "doc_id long, text string")
        out = contamination_report(corpus, bench, n=3).collect()[0]
        assert (out["n_grams"], out["n_hits"]) == (2, 1)

    def test_normalized_mode_catches_cosmetic_edits(self, spark):
        # same 3-gram hidden behind case, punctuation and double spaces:
        # raw mode misses it, normalize=True flags it
        corpus = spark.createDataFrame(
            [(1, "The  QUICK, brown fox!")], "doc_id long, text string"
        )
        bench = spark.createDataFrame(
            [(9, "the quick brown")], "doc_id long, text string"
        )
        raw = contamination_report(corpus, bench, n=3).collect()[0]
        assert raw["n_hits"] == 0 and not raw["contaminated"]
        norm = contamination_report(corpus, bench, n=3, normalize=True).collect()[0]
        # normalized corpus = "the quick brown fox" -> hits "the quick brown"
        assert (norm["n_grams"], norm["n_hits"], norm["contaminated"]) == (2, 1, True)


class TestBloom:
    def test_null_text_has_no_grams(self, spark):
        # a NULL text must not become the word "None" (which this
        # benchmark contains): no grams, never flagged
        corpus = spark.createDataFrame([(1, None)], "doc_id long, text string")
        bench = spark.createDataFrame([(9, "None")], "doc_id long, text string")
        out = bloom_decontaminate(corpus, bench, n=1).collect()
        assert [tuple(r) for r in out] == [(1, 0, 0, False)]
        assert contamination_report(corpus, bench, n=1).count() == 0

    def test_string_ids_keep_their_type(self, spark):
        rows = [("a1", "x q w e r t y"), ("b2", "a b c d e f")]
        corpus = spark.createDataFrame(rows, "doc_id string, text string")
        bench = spark.createDataFrame([("z", "q w e r t")], "doc_id string, text string")
        out = bloom_decontaminate(corpus, bench, n=5)
        assert {r["doc_id"]: r["flagged"] for r in out.collect()} == {
            "a1": True,
            "b2": False,
        }
        assert out.schema["doc_id"].dataType.simpleString() == "string"


class TestCliRetention:
    def test_retention_mode_drops_and_reports(self, spark, tmp_path, capsys, monkeypatch):
        # cli.main() stops its session on exit; keep the shared test
        # session alive for the rest of the suite
        monkeypatch.setattr(type(spark), "stop", lambda self: None)
        from processor_post_timeseries_spark.cli import main
        from processor_post_timeseries_spark.plans.retention import (
            DAY_US,
            list_partitions,
            write_time_partitioned,
        )

        path = str(tmp_path / "tiers")
        rows = [
            (t, d * DAY_US, 1.0) for t in ("raw", "1m") for d in (10, 11, 12)
        ]
        write_time_partitioned(
            spark.createDataFrame(rows, "tier string, win_start_us long, v double"), path
        )
        rc = main(["--input", path, "--out", "/dev/null", "--retention",
                   "--policy", "raw:1,1m:5"])
        assert rc == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["mode"] == "retention" and rep["now_day"] == 12
        assert rep["dropped"] == ["tier=raw/day=10", "tier=raw/day=11"]
        assert len(list_partitions(spark, path)) == 4

    def test_retention_dry_run(self, spark, tmp_path, capsys, monkeypatch):
        monkeypatch.setattr(type(spark), "stop", lambda self: None)
        from processor_post_timeseries_spark.cli import main
        from processor_post_timeseries_spark.plans.retention import (
            DAY_US,
            list_partitions,
            write_time_partitioned,
        )

        path = str(tmp_path / "tiers2")
        rows = [("raw", d * DAY_US, 1.0) for d in (10, 11, 12)]
        write_time_partitioned(
            spark.createDataFrame(rows, "tier string, win_start_us long, v double"), path
        )
        rc = main(["--input", path, "--out", "/dev/null", "--retention",
                   "--policy", "raw:1", "--dry-run"])
        assert rc == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["dry_run"] is True and len(rep["dropped"]) == 2
        assert len(list_partitions(spark, path)) == 3


class TestPiiScrub:
    def test_redaction_and_counts(self, spark):
        from processor_post_timeseries_spark.functions.text import pii_hits, scrub_pii
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [
                (1, "mail me at jo.doe+x@sub.example.org now"),
                (2, "call 1-555-123-4567 or (555) 987 6543"),
                (3, "server at 192.168.1.7 went down"),
                (4, "clean text with numbers 12345 and words"),
            ],
            "id long, t string",
        )
        out = {
            r["id"]: (r["s"], r["n"])
            for r in df.select(
                "id", scrub_pii(F.col("t")).alias("s"), pii_hits(F.col("t")).alias("n")
            ).collect()
        }
        assert out[1] == ("mail me at <EMAIL> now", 1)
        assert out[2][0].count("<PHONE>") == 2 and out[2][1] == 2
        assert out[3] == ("server at <IP> went down", 1)
        assert out[4] == ("clean text with numbers 12345 and words", 0)
