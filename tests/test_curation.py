"""End-to-end curation DAG (plans/curation.py): stage attribution in
pipeline order, near-dup composition, keepset packing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from processor_post_timeseries_spark.plans.curation import curate, curate_and_pack


@pytest.fixture(scope="module")
def spark():
    from processor_post_timeseries_spark.session import get_spark

    return get_spark("test-curation", master="local[4]")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


GOOD = "the quick brown fox jumps over the lazy dog and runs on for a while in the sun"


def test_stage_attribution_first_match_wins(spark):
    bench = _docs(spark, [(900, "q w e r t y u i o p", "bench")])
    docs = _docs(
        spark,
        [
            (1, GOOD, "a"),                         # kept
            (2, GOOD, "a"),                         # exact dup of 1
            (3, "x q w e r t y z z z", "a"),        # contaminated (5-gram)
            (4, "!!! ??? ### $$$ %%%", "a"),        # punctuation soup -> low quality
            (5, GOOD + " extra tail words here", "b"),  # kept (unique, clean)
        ],
    )
    out = {
        r["doc_id"]: r["stage"]
        for r in curate(docs, bench, min_quality=0.3).collect()
    }
    assert out == {
        1: "kept",
        2: "exact_dup",
        3: "contaminated",
        4: "low_quality",
        5: "kept",
    }
    # audit covers EVERY input doc exactly once
    assert len(out) == 5


def test_exact_dup_outranks_contamination(spark):
    bench = _docs(spark, [(900, "q w e r t y u i o p", "bench")])
    contaminated = "x q w e r t y z z z"
    docs = _docs(spark, [(1, contaminated, "a"), (2, contaminated, "a")])
    out = {r["doc_id"]: r["stage"] for r in curate(docs, bench, min_quality=0.0).collect()}
    # doc 1 is the keeper -> its first failing stage is contamination;
    # doc 2 reports the EARLIER stage (exact dup), never contamination
    assert out == {1: "contaminated", 2: "exact_dup"}


def test_near_dup_stage_drops_non_representatives(spark):
    bench = _docs(spark, [(900, "totally unrelated benchmark words", "bench")])
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    near = base.replace("sigma", "sigmaX")  # one-word tweak -> near-dup
    docs = _docs(
        spark,
        [(1, base, "a"), (2, near, "a"), (3, "completely different text about other things entirely", "a")],
    )
    out = {
        r["doc_id"]: r["stage"]
        for r in curate(
            docs, bench, near_dup=True, lsh=(16, 8, 3), min_quality=0.0, hash_fn="md5"
        ).collect()
    }
    assert out[2] == "near_dup" and out[1] == "kept" and out[3] == "kept"


def test_mixture_stage_and_availability_from_survivors(spark):
    bench = _docs(spark, [(900, "z z z z z z z z z z", "bench")])
    # two sources; targets pin 50/50 — all docs clean and unique
    rows = [(i, GOOD + f" marker{i}", "a") for i in range(10)] + [
        (100 + i, GOOD + f" tag{i}", "b") for i in range(10)
    ]
    docs = _docs(spark, rows)
    out = curate(docs, bench, min_quality=0.0, targets={"a": 0.5, "b": 0.5}).collect()
    stages = {r["doc_id"]: r["stage"] for r in out}
    assert set(stages.values()) <= {"kept", "mixture_out"}
    # balanced targets on balanced sources: rate 1.0 both -> all kept
    assert all(s == "kept" for s in stages.values())
    # skewed: 90/10 -> source b becomes the over-represented side and
    # must lose some docs to the draw (rate < 1)
    out2 = curate(docs, bench, min_quality=0.0, targets={"a": 0.9, "b": 0.1}).collect()
    st2 = [r["stage"] for r in out2 if r["source"] == "b"]
    assert "mixture_out" in st2


def test_cli_curate_mode(spark, tmp_path, capsys, monkeypatch):
    import json

    # cli.main() stops its session on exit; keep the shared test
    # session alive for the rest of the suite
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    from processor_post_timeseries_spark.cli import main

    docs = _docs(
        spark,
        [(1, GOOD, "a"), (2, GOOD, "a"), (3, GOOD + " trailing unique bits", "b")],
    )
    bench = _docs(spark, [(900, "q w e r t y u i o p", "bench")])
    dp, bp, op = (str(tmp_path / d) for d in ("docs", "bench", "out"))
    docs.write.parquet(dp)
    bench.write.parquet(bp)
    rc = main(["--input", dp, "--curate", bp, "--out", op, "--ctx-len", "32"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "curate"
    assert rep["stages"] == {"kept": 2, "exact_dup": 1}
    blocks = spark.read.parquet(f"{op}/blocks")
    n_by_src = {
        r["source"]: r["n"]
        for r in blocks.groupBy("source").agg(F.sum("n_tokens").alias("n")).collect()
    }
    assert n_by_src == {"a": len(GOOD), "b": len(GOOD + " trailing unique bits")}


def test_curate_and_pack_blocks_only_from_keepset(spark):
    bench = _docs(spark, [(900, "q w e r t y u i o p", "bench")])
    docs = _docs(
        spark,
        [(1, GOOD, "a"), (2, GOOD, "a"), (3, "x q w e r t y z z z", "a")],
    )
    blocks = curate_and_pack(docs, bench, ctx_len=32, min_quality=0.0).collect()
    total = sum(r["n_tokens"] for r in blocks)
    assert total == len(GOOD)  # only doc 1 packs; dup + contaminated dropped
    assert all(r["n_tokens"] <= 32 for r in blocks)


def test_curate_and_pack_reuses_precomputed_audit(spark, tmp_path):
    """--curate's shape: packing from the materialized audit parquet is
    identical to re-running the DAG (the double-execution fix)."""
    bench = _docs(spark, [(900, "q w e r t y u i o p", "bench")])
    docs = _docs(
        spark,
        [(1, GOOD, "a"), (2, GOOD, "a"), (3, "x q w e r t y z z z", "a")],
    )
    path = str(tmp_path / "audit")
    curate(docs, bench, min_quality=0.0).write.parquet(path)
    audit_pq = spark.read.parquet(path)
    via_audit = curate_and_pack(
        docs, bench, ctx_len=32, min_quality=0.0, audit=audit_pq
    ).collect()
    direct = curate_and_pack(docs, bench, ctx_len=32, min_quality=0.0).collect()
    key = lambda r: (r["source"], r["block_no"] if "block_no" in r.__fields__ else 0, r["n_tokens"])
    assert sorted(map(key, via_audit)) == sorted(map(key, direct))
    assert sum(r["n_tokens"] for r in via_audit) == len(GOOD)


def test_curate_drop_stats_surfaces_lsh_cap_truncation(spark):
    """A degenerate corpus (many near-identical docs) with a tiny LSH
    bucket cap must REPORT its drop count through curate's metrics, not
    silently truncate recall (VERDICT r4 ask #6)."""
    bench = _docs(spark, [(900, "totally unrelated benchmark words", "bench")])
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    # 12 UNIQUE docs (exact dedup keeps all) differing only in the last
    # token -> near-identical shingle sets, shared band buckets
    rows = [(i, base + f" tail{i}", "a") for i in range(12)]
    docs = _docs(spark, rows)
    stats: dict = {}
    audit = curate(
        docs,
        bench,
        near_dup=True,
        lsh=(16, 8, 3),
        min_quality=0.0,
        hash_fn="md5",
        lsh_max_bucket_size=4,
        drop_stats=stats,
    )
    audit.count()  # materialize the DAG; stats were filled eagerly at build
    assert stats["lsh_n_dropped"] > 0
    assert stats["lsh_n_affected_buckets"] > 0
    assert stats["lsh_max_bucket"] > 4
    # uncapped control: same corpus, no cap -> zero drops reported
    stats2: dict = {}
    curate(
        docs, bench, near_dup=True, lsh=(16, 8, 3), min_quality=0.0,
        hash_fn="md5", lsh_max_bucket_size=None, drop_stats=stats2,
    )
    assert stats2["lsh_n_dropped"] == 0


def test_curate_bloom_exact_mode_identical_to_exact(spark):
    # real corpus slice: the two-tier check (bloom prefilter + exact on
    # the flagged docs) must equal the exact report, for long AND string
    # ids (bloom has no false negatives; the kernel keeps the id type)
    from processor_post_timeseries_spark.operators.decontam import (
        contaminated_ids,
        contamination_report,
    )

    all_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = all_docs.filter(F.col("doc_id") % 50 != 0).select("doc_id", "text", "source")
    bench = all_docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text", "source")
    as_str = lambda df: df.withColumn("doc_id", F.col("doc_id").cast("string"))

    exact = {
        str(r["doc_id"])
        for r in contamination_report(docs, bench, n=5).filter("contaminated").collect()
    }
    assert exact
    for c, b in ((docs, bench), (as_str(docs), as_str(bench))):
        assert {str(r["doc_id"]) for r in contaminated_ids(c, b).collect()} == exact

    audit = sorted(
        (str(r[0]), *r[1:]) for r in curate(docs, bench, min_quality=0.0).collect()
    )
    audit_str = sorted(
        map(tuple, curate(as_str(docs), as_str(bench), min_quality=0.0).collect())
    )
    assert audit == audit_str
    assert sum(r[3] == "contaminated" for r in audit) == len(exact)


def test_curate_raises_on_null_text(spark):
    """A NULL text has no content digest: the audit must not drop the doc."""
    bench = _docs(spark, [(900, "q w e r t y u i o p", "bench")])
    docs = _docs(spark, [(1, GOOD, "a"), (2, None, "a"), (3, GOOD + " more", "b")])
    with pytest.raises(Exception, match="doc '2' has NULL text"):
        curate(docs, bench, min_quality=0.0).collect()
