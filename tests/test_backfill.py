"""Targeted backfill: invalidate checkpoint units -> resume recomputes
exactly those partitions, end state identical to a clean run."""

from __future__ import annotations

from pyspark.sql import functions as F

from processor_post_timeseries_spark.plans import lineage
from processor_post_timeseries_spark.plans.backfill import (
    invalidate_units,
    invalidate_where,
)
from processor_post_timeseries_spark.plans.pipeline import PipelineConfig, run_pipeline
from processor_post_timeseries_spark.sources.synth import sequences


def _cfg(out, run_id):
    return PipelineConfig(
        out_dir=out, block_size=64, n_buckets=4,
        tiers=(("1s", 10), ("1m", 6)), run_id=run_id,
    )


def test_invalidate_then_resume_recomputes_only_that_unit(spark, tmp_path):
    seq = sequences(spark, 40, seed=11, min_tok=5, max_tok=300, vocab=500).cache()
    out = str(tmp_path / "o")
    run_pipeline(spark, seq, _cfg(out, "run-a"))

    ck0 = lineage.read_checkpoint(spark, out)
    n0 = ck0.count()
    unit = ck0.filter(F.col("stage") == "blocks").first()["partition_key"]
    source, bucket = unit.rsplit("/", 1)

    removed = invalidate_where(spark, out, source, int(bucket))
    # one blocks row + one row per tier for that unit
    assert removed == 3
    assert lineage.read_checkpoint(spark, out).count() == n0 - 3

    # the resume anti-join must now expose exactly that unit's docs
    from processor_post_timeseries_spark.operators.partitioning import with_bucket

    keyed = with_bucket(seq, 4)
    pending = lineage.pending_only(keyed, spark, out, "blocks", ["source", "bucket"])
    pend_units = {
        (r["source"], r["bucket"])
        for r in pending.select("source", "bucket").distinct().collect()
    }
    assert pend_units == {(source, int(bucket))}

    # resume: checkpoint row count restored, blocks output matches a
    # clean one-shot run exactly
    run_pipeline(spark, seq, _cfg(out, "run-b"))
    assert lineage.read_checkpoint(spark, out).count() == n0

    clean = str(tmp_path / "clean")
    run_pipeline(spark, seq, _cfg(clean, "run-c"))
    a = spark.read.parquet(f"{out}/blocks").select("doc_id", "block_no", "payload")
    b = spark.read.parquet(f"{clean}/blocks").select("doc_id", "block_no", "payload")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_invalidate_units_exact_keys_only(spark, tmp_path):
    seq = sequences(spark, 20, seed=12, min_tok=5, max_tok=100, vocab=100)
    out = str(tmp_path / "o2")
    run_pipeline(spark, seq, _cfg(out, "run-x"))
    ck = lineage.read_checkpoint(spark, out)
    keys = [r["partition_key"] for r in ck.filter(F.col("stage") == "blocks").limit(2).collect()]
    removed = invalidate_units(spark, out, "blocks", keys)
    assert removed == 2
    left = lineage.done_keys(spark, out)["blocks"]
    assert not left & set(keys)


def test_invalidate_missing_unit_is_noop(spark, tmp_path):
    seq = sequences(spark, 10, seed=13, min_tok=5, max_tok=50, vocab=100)
    out = str(tmp_path / "o3")
    run_pipeline(spark, seq, _cfg(out, "run-y"))
    n = lineage.read_checkpoint(spark, out).count()
    assert invalidate_where(spark, out, "no-such-source", 99) == 0
    assert lineage.read_checkpoint(spark, out).count() == n


def test_cli_backfill_mode(spark, tmp_path, capsys, monkeypatch):
    import json as _json

    from processor_post_timeseries_spark.cli import main

    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    seq = sequences(spark, 15, seed=14, min_tok=5, max_tok=60, vocab=100)
    out = str(tmp_path / "o4")
    run_pipeline(spark, seq, _cfg(out, "run-z"))
    unit = min(lineage.done_keys(spark, out)["blocks"])
    src, bkt = unit.rsplit("/", 1)
    rc = main(["--out", out, "--backfill", f"{src}:{bkt}"])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "backfill" and rep["invalidated_rows"] == 3


def test_cli_verify_lineage_green_and_detects_tamper(spark, tmp_path, capsys, monkeypatch):
    import glob
    import json as _json
    import os

    from processor_post_timeseries_spark.cli import main

    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    seq = sequences(spark, 15, seed=15, min_tok=5, max_tok=60, vocab=100)
    out = str(tmp_path / "o5")
    run_pipeline(spark, seq, _cfg(out, "run-v"))

    rc = main(["--out", out, "--verify-lineage", "blocks"])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and rep["n_mismatched"] == 0 and rep["n_partitions"] > 0

    # tamper: remove one data file -> the audit must fail loudly
    victim = sorted(glob.glob(f"{out}/blocks/**/*.parquet", recursive=True))[0]
    os.remove(victim)
    rc2 = main(["--out", out, "--verify-lineage", "blocks"])
    rep2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc2 == 1 and rep2["n_mismatched"] >= 1


def test_invalidation_keeps_a_concurrent_lineage_append(spark, tmp_path):
    """The pipeline writes its stages one after the other, but a caller
    may run lineage appends and invalidations on threads of its own: the
    checkpoint rewrite holds the append's lock from its read to its
    overwrite, so no appended row is lost."""
    import threading

    from pyspark import inheritable_thread_target

    root = str(tmp_path / "o")
    rows = spark.createDataFrame([("s", b, "x") for b in range(4)],
                                 "source string, bucket int, v string")
    errors = []

    def loop(stage, invalidate):
        try:
            for i in range(4):
                lineage.record_stage(spark, root, stage, rows, ["source", "bucket"],
                                     f"{stage}{i}")
                if invalidate:
                    invalidate_units(spark, root, stage, [f"s/{b}" for b in range(4)])
        except Exception as e:  # reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=inheritable_thread_target(spark)(loop), args=a)
               for a in (("blocks", False), ("tiers", True))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    ck = lineage.read_checkpoint(spark, root)
    assert ck.filter("stage = 'blocks'").count() == 16
    assert ck.filter("stage = 'tiers'").count() == 0
