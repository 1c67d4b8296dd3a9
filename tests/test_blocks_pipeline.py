from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from processor_post_timeseries_spark.operators.blocks import block_key, from_blocks, to_blocks
from processor_post_timeseries_spark.operators.partitioning import with_bucket
from processor_post_timeseries_spark.plans import lineage
from processor_post_timeseries_spark.plans.backfill import invalidate_units
from processor_post_timeseries_spark.plans.pipeline import PipelineConfig, run_pipeline
from processor_post_timeseries_spark.sources.synth import sequences


def test_blocks_roundtrip_token_array_equality(spark):
    """north-rule per-row invariant: decoded token arrays == originals."""
    seq = sequences(spark, 30, seed=21, min_tok=1, max_tok=700, vocab=50_000).cache()
    blocks = to_blocks(seq, block_size=100)
    back = from_blocks(blocks)
    joined = seq.alias("a").join(back.alias("b"), "doc_id")
    n = seq.count()
    assert joined.count() == n
    bad = joined.filter(~(F.col("a.tokens") == F.col("b.tokens"))).count()
    assert bad == 0


def test_block_bounds_and_keys(spark):
    seq = sequences(spark, 5, seed=3, min_tok=250, max_tok=250, vocab=100)
    blocks = block_key(to_blocks(seq, block_size=100)).orderBy("doc_id", "block_no")
    rows = blocks.filter(F.col("doc_id") == blocks.first()["doc_id"]).collect()
    assert [(r["start_idx"], r["end_idx"], r["n"]) for r in rows] == [
        (0, 100, 100),
        (100, 200, 100),
        (200, 250, 50),
    ]
    assert rows[1]["key"].endswith("_000000000100_000000000200.bin")


def test_bucket_deterministic_and_bounded(spark):
    seq = sequences(spark, 100, seed=1, min_tok=1, max_tok=5)
    b1 = with_bucket(seq, 8).select("doc_id", "bucket").collect()
    b2 = with_bucket(seq.repartition(5), 8).select("doc_id", "bucket").collect()
    assert dict((r["doc_id"], r["bucket"]) for r in b1) == dict(
        (r["doc_id"], r["bucket"]) for r in b2
    )
    assert all(0 <= r["bucket"] < 8 for r in b1)


def test_pipeline_end_to_end_and_resume(spark, tmp_path):
    tiers = (("1s", 10), ("1m", 6), ("1h", 6))
    seq = sequences(spark, 60, seed=33, min_tok=5, max_tok=400, vocab=1000).cache()

    # one-shot run
    full_dir = str(tmp_path / "full")
    run_pipeline(spark, seq, PipelineConfig(out_dir=full_dir, block_size=64, n_buckets=4, tiers=tiers))

    # interrupted run: first process only half the docs (simulated crash),
    # then resume with the full input
    part_dir = str(tmp_path / "resumed")
    half = seq.filter(F.pmod(F.xxhash64("doc_id"), F.lit(4)) < 2)
    cfg1 = PipelineConfig(out_dir=part_dir, block_size=64, n_buckets=4, tiers=tiers, run_id="run-a")
    run_pipeline(spark, half, cfg1)
    cfg2 = PipelineConfig(out_dir=part_dir, block_size=64, n_buckets=4, tiers=tiers, run_id="run-b")
    run_pipeline(spark, seq, cfg2)

    # resumed output == one-shot output, exactly, per stage
    for stage in ["blocks", "tiers"]:
        a = spark.read.parquet(f"{full_dir}/{stage}")
        b = spark.read.parquet(f"{part_dir}/{stage}")
        cols = sorted(a.columns)
        agg = lambda d: (
            d.withColumn("_h", F.xxhash64(*cols))
            .select(F.expr("bit_xor(_h)").alias("h"), F.count("*").alias("n"))
            .collect()[0]
        )
        ha, hb = agg(a), agg(b)
        assert (ha["h"], ha["n"]) == (hb["h"], hb["n"]), stage

    # resume actually skipped completed partitions: run-b only wrote
    # checkpoint rows for buckets not done by run-a
    ck = lineage.read_checkpoint(spark, part_dir)
    for st in ("blocks", "tiers"):
        done_a = {r["partition_key"] for r in ck.filter(f"run_id = 'run-a' and stage = '{st}'").collect()}
        done_b = {r["partition_key"] for r in ck.filter(f"run_id = 'run-b' and stage = '{st}'").collect()}
        assert done_a and done_b, st
        assert not (done_a & done_b), f"resume recomputed completed partitions in {st}"

    # lineage checksums certify identical bytes for overlapping stages
    full_ck = lineage.read_checkpoint(spark, full_dir)
    fa = {(r["stage"], r["partition_key"]): (r["row_count"], r["checksum"]) for r in full_ck.collect()}
    fb = {(r["stage"], r["partition_key"]): (r["row_count"], r["checksum"]) for r in ck.collect()}
    assert set(fa) == set(fb)
    for k in fa:
        assert fa[k] == fb[k], k


def test_pipeline_noop_on_second_run(spark, tmp_path):
    seq = sequences(spark, 10, seed=4, min_tok=5, max_tok=50)
    out = str(tmp_path / "p")
    tiers = (("1s", 10),)
    run_pipeline(spark, seq, PipelineConfig(out_dir=out, tiers=tiers, n_buckets=2, run_id="r1"))
    run_pipeline(spark, seq, PipelineConfig(out_dir=out, tiers=tiers, n_buckets=2, run_id="r2"))
    ck = lineage.read_checkpoint(spark, out)
    assert ck.filter("run_id = 'r2'").count() == 0


def test_observe_metrics_captured(spark, tmp_path):
    seq = sequences(spark, 15, seed=6, min_tok=5, max_tok=60)
    cfg = PipelineConfig(out_dir=str(tmp_path / "m"), tiers=(("1s", 10), ("1m", 6)), n_buckets=2)
    run_pipeline(spark, seq, cfg)
    # A5 analog: per-stage row counters captured during the write pass
    assert cfg.metrics["blocks"]["rows_written"] == 15  # 1 block/doc at default size
    tiers_rows = cfg.metrics["tiers"]["rows_written"]
    assert tiers_rows == 15 * 2  # one row per doc per tier
    # no tiers configured: the kernel yields blocks rows only, and the
    # tiers stage of a fresh run writes none
    bare = PipelineConfig(out_dir=str(tmp_path / "bare"), tiers=(), n_buckets=2, resume=False)
    run_pipeline(spark, seq, bare)
    assert bare.metrics == {"blocks": {"rows_written": 15}, "tiers": {"rows_written": 0}}


def test_pipeline_empty_input(spark, tmp_path):
    """Zero-doc input must produce a clean, resumable (empty) run — no
    kernel crashes on empty Arrow batches, no phantom lineage rows."""
    from pyspark.sql import functions as F

    from processor_post_timeseries_spark.plans import lineage
    from processor_post_timeseries_spark.plans.pipeline import PipelineConfig, run_pipeline
    from processor_post_timeseries_spark.sources.synth import sequences

    empty = sequences(spark, 8, seed=3).filter(F.col("n_tok") < 0).repartition(4)
    cfg = PipelineConfig(out_dir=str(tmp_path / "o"), block_size=64, n_buckets=4,
                         tiers=(("1s", 8), ("1m", 4)), resume=False)
    paths = run_pipeline(spark, empty, cfg)
    assert set(paths) >= {"blocks", "tiers"}
    ck = lineage.read_checkpoint(spark, cfg.out_dir)
    assert ck.count() == 0  # nothing written -> nothing certified
    # a followup RESUME run over real data proceeds normally
    cfg2 = PipelineConfig(out_dir=str(tmp_path / "o"), block_size=64, n_buckets=4,
                          tiers=(("1s", 8), ("1m", 4)), resume=True)
    run_pipeline(spark, sequences(spark, 8, seed=3), cfg2)
    done = lineage.read_checkpoint(spark, cfg2.out_dir).filter("stage = 'blocks'")
    assert done.count() > 0


# -- the caller's thread and job properties -----------------------------------
def _drain(spark):
    """Wait until the listener bus has delivered every event posted so
    far, so the status tracker reflects every job that has ended."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def test_pipeline_leaves_callers_pool_unchanged(spark, tmp_path):
    sc = spark.sparkContext
    seq = sequences(spark, 12, seed=8, min_tok=5, max_tok=80)
    sc.setLocalProperty("spark.scheduler.pool", "mine")
    try:
        run_pipeline(spark, seq, PipelineConfig(out_dir=str(tmp_path / "p"), n_buckets=2,
                                                tiers=(("1s", 10),), resume=False))
        assert sc.getLocalProperty("spark.scheduler.pool") == "mine"
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)


def _nothing_cached(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pipeline_failure_restores_pool_and_stops_every_job(spark, tmp_path):
    """A failed run restores the caller's pool label, leaves no job running
    and releases its persisted frame; so does a successful run."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    seq = sequences(spark, 40, seed=9, min_tok=5, max_tok=300)
    # one NULL tokens row: the ingest kernel rejects it
    bad = seq.withColumn(
        "tokens", F.when(F.col("doc_id") != "doc-000000007", F.col("tokens"))
    )
    cfg = dict(n_buckets=2, tiers=(("1s", 10), ("1m", 6)))
    sc.setLocalProperty("spark.scheduler.pool", "mine")
    try:
        with pytest.raises(Exception, match="NULL tokens for doc_id 'doc-000000007'"):
            run_pipeline(spark, bad, PipelineConfig(out_dir=str(tmp_path / "f"), **cfg))
        assert sc.getLocalProperty("spark.scheduler.pool") == "mine"
        _drain(spark)
        assert list(sc.statusTracker().getActiveJobsIds()) == []
        assert _nothing_cached(spark)
        run_pipeline(spark, seq, PipelineConfig(out_dir=str(tmp_path / "ok"), **cfg))
        assert _nothing_cached(spark)
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)


def test_a_run_crosses_into_python_once_and_shuffles_once(spark, tmp_path, monkeypatch):
    """The shared frame is the raw input's scan, one Python map (the
    ingest kernel) and one Exchange; both stage writes read its executed
    shuffle, with no Python node, Exchange or cache of their own."""
    from pyspark.sql.readwriter import DataFrameWriter

    from processor_post_timeseries_spark.plans import pipeline

    path = str(tmp_path / "seq")
    sequences(spark, 30, seed=20, min_tok=5, max_tok=300).write.parquet(path)
    out = str(tmp_path / "o")
    plans = {}
    shuffled_once, parquet = pipeline._shuffled_once, DataFrameWriter.parquet

    def recording_shuffle(spark_, rows):
        plans["shared"] = rows._jdf.queryExecution().executedPlan().toString()
        return shuffled_once(spark_, rows)

    def recording_write(self, p, *args, **kwargs):
        plans[p] = self._df._jdf.queryExecution().executedPlan().toString()
        return parquet(self, p, *args, **kwargs)

    monkeypatch.setattr(pipeline, "_shuffled_once", recording_shuffle)
    monkeypatch.setattr(DataFrameWriter, "parquet", recording_write)
    spark.catalog.clearCache()
    run_pipeline(spark, spark.read.parquet(path), PipelineConfig(
        out_dir=out, block_size=64, n_buckets=2, tiers=(("1s", 10),), resume=False))
    shared = plans["shared"]
    assert shared.count("MapInArrow") == 1, shared
    assert not any(n in shared for n in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"))
    assert shared.count("Exchange") == 1, shared
    assert shared.count(f"InMemoryFileIndex(1 paths)[file:{path}]") == 1, shared
    for stage in ("blocks", "tiers"):
        plan = plans[f"{out}/{stage}"]
        assert "ExistingRDD" in plan, plan
        assert not any(n in plan for n in ("MapInArrow", "Exchange", "InMemoryRelation")), plan
    assert _nothing_cached(spark)


def test_pipeline_jobs_keep_callers_job_group(spark, tmp_path):
    sc = spark.sparkContext
    seq = sequences(spark, 40, seed=10, min_tok=5, max_tok=300)
    _drain(spark)
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("g1", "pipeline job-group test")
    try:
        run_pipeline(spark, seq, PipelineConfig(out_dir=str(tmp_path / "g"), n_buckets=2,
                                                tiers=(("1s", 10),), resume=False))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    _drain(spark)
    assert set(sc.statusTracker().getJobIdsForGroup("g1"))
    assert set(sc.statusTracker().getJobIdsForGroup(None)) - before == set()


def test_partial_tier_invalidation_resumes_every_tier_of_the_unit(spark, tmp_path, monkeypatch):
    """One tier's checkpoint row gone -> the unit is pending for tiers
    only, and the resume rewrites all of its tiers (a unit is done only
    when every tier is). Its kernel cuts no blocks."""
    import pyarrow as pa

    tiers = (("1s", 10), ("1m", 6), ("1h", 6))
    seq = sequences(spark, 40, seed=12, min_tok=5, max_tok=400, vocab=500).cache()

    def cfg(out, run_id):
        return PipelineConfig(out_dir=out, block_size=64, n_buckets=4, tiers=tiers,
                              run_id=run_id)

    def rows(out):
        return {(r["stage"], r["partition_key"], r["row_count"], r["checksum"])
                for r in lineage.read_checkpoint(spark, out).collect()}

    out = str(tmp_path / "o")
    run_pipeline(spark, seq, cfg(out, "run-a"))
    want = rows(out)
    unit = sorted(k for s, k, _n, _c in want if s == "blocks")[0]
    unit_tiers = {(k, n) for s, k, n, _c in want
                  if s == "tiers" and k.split("/", 1)[1] == unit}
    assert len(unit_tiers) == len(tiers)
    assert invalidate_units(spark, out, "tiers", [f"1m/{unit}"]) == 1

    kernels = []
    frame = type(seq)
    map_in_arrow = frame.mapInArrow
    monkeypatch.setattr(frame, "mapInArrow",
                        lambda self, f, *a, **k: kernels.append(f) or map_in_arrow(self, f, *a, **k))
    resumed = cfg(out, "run-b")
    run_pipeline(spark, seq, resumed)
    monkeypatch.undo()
    assert "blocks" not in resumed.metrics  # no blocks work was pending
    [kernel] = kernels
    batch = pa.RecordBatch.from_pydict({"doc_id": ["d"], "source": ["s"],
                                        "tokens": pa.array([[1, 2, 3]], pa.list_(pa.int32()))})
    assert {s for b in kernel([batch]) for s in b.column("stage").to_pylist()} == {"tiers"}
    assert resumed.metrics["tiers"]["rows_written"] == sum(n for _k, n in unit_tiers)
    ck = lineage.read_checkpoint(spark, out).filter("run_id = 'run-b'").collect()
    assert {(r["partition_key"], r["row_count"]) for r in ck} == unit_tiers
    assert all(r["stage"] == "tiers" for r in ck)
    assert rows(out) == want

    clean = str(tmp_path / "clean")
    run_pipeline(spark, seq, cfg(clean, "run-c"))
    a, b = spark.read.parquet(f"{out}/tiers"), spark.read.parquet(f"{clean}/tiers")
    cols = sorted(a.columns)
    h = lambda d: tuple(
        d.select(F.xxhash64(*cols).alias("_h")).agg(F.expr("bit_xor(_h)"), F.count("*")).first()
    )
    assert h(a) == h(b)


def test_resume_with_a_changed_tier_set_writes_the_new_tiers(spark, tmp_path):
    """A unit is done for tiers only when every tier of the CURRENT config
    has a checkpoint row: resuming with a tier the earlier run never wrote
    recomputes it for every unit (a count of tier rows per unit would call
    the unit done and leave the new tier missing)."""
    seq = sequences(spark, 30, seed=14, min_tok=5, max_tok=400, vocab=500).cache()

    def cfg(out, tiers, run_id):
        return PipelineConfig(out_dir=out, block_size=64, n_buckets=4, tiers=tiers,
                              run_id=run_id)

    out = str(tmp_path / "o")
    run_pipeline(spark, seq, cfg(out, (("1s", 10), ("1m", 6), ("1h", 6)), "run-a"))
    units = lineage.done_keys(spark, out)["blocks"]
    new_tiers = (("1s", 10), ("5m", 30))
    paths = run_pipeline(spark, seq, cfg(out, new_tiers, "run-b"))

    ck = lineage.read_checkpoint(spark, out).filter("run_id = 'run-b'").collect()
    # every unit's tiers were rewritten and recorded, the blocks were not
    assert {(r["stage"], r["partition_key"]) for r in ck} == {
        ("tiers", f"{t}/{u}") for t in ("1s", "5m") for u in units}
    clean = str(tmp_path / "clean")
    run_pipeline(spark, seq, cfg(clean, new_tiers, "run-c"))
    got = spark.read.parquet(paths["tiers"])
    # each unit's file was replaced: the dropped tiers' rows went with it
    assert {r.tier for r in got.select("tier").distinct().collect()} == {"1s", "5m"}
    for name in ("1s", "5m"):
        a = got.filter(F.col("tier") == name)
        b = spark.read.parquet(f"{clean}/tiers").filter(F.col("tier") == name)
        assert a.count() == b.count() > 0
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # and so did their checkpoint keys: every key has its data
    assert all(r.ok for r in lineage.verify_lineage(
        spark, out, "tiers", f"{out}/tiers", ["tier", "source", "bucket"]).collect())


def test_fresh_run_with_fewer_tiers_drops_the_keys_of_the_rest(spark, tmp_path):
    """A fresh run replaces each unit's tiers file, so the checkpoint keys
    of a tier it no longer writes must go too: a later resume with that
    tier back recomputes it instead of trusting keys with no rows."""
    seq = sequences(spark, 30, seed=19, min_tok=5, max_tok=400, vocab=500).cache()
    out = str(tmp_path / "o")
    three, two = (("1s", 10), ("1m", 6), ("1h", 6)), (("1s", 10), ("1m", 6))

    def run(tiers, run_id, resume):
        run_pipeline(spark, seq, PipelineConfig(out_dir=out, block_size=64, n_buckets=4,
                                                tiers=tiers, run_id=run_id, resume=resume))

    def tier_counts():
        got = spark.read.parquet(f"{out}/tiers").groupBy("tier").count().collect()
        return {r["tier"]: r["count"] for r in got}

    def lineage_ok():
        rows = lineage.verify_lineage(spark, out, "tiers", f"{out}/tiers",
                                      ["tier", "source", "bucket"]).collect()
        return bool(rows) and all(r.ok for r in rows)

    run(three, "run-a", False)
    want = tier_counts()
    run(two, "run-b", False)
    assert set(tier_counts()) == {"1s", "1m"} and lineage_ok()
    assert not any(k.startswith("1h/") for k in lineage.done_keys(spark, out)["tiers"])
    run(three, "run-c", True)
    assert tier_counts() == want and lineage_ok()


def _unit_files(path):
    """{unit dir: its Parquet data files} of a stage output."""
    import glob
    import os

    return {d: sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
            for d in glob.glob(f"{path}/source=*/bucket=*")}


def test_each_unit_is_one_file_with_its_tiers_in_order(spark, tmp_path):
    """Both stages write one Parquet file per (source, bucket) unit, on a
    fresh run and on a 2-unit resume; a tiers file holds every tier of
    the unit, in tier order, and its lineage certifies."""
    import os

    import pyarrow.parquet as pq

    from processor_post_timeseries_spark.plans.backfill import invalidate_where

    tiers = (("1s", 10), ("1m", 6), ("1h", 6))
    seq = sequences(spark, 60, seed=18, min_tok=5, max_tok=400, vocab=500).cache()
    out = str(tmp_path / "o")

    def run(run_id, resume):
        run_pipeline(spark, seq, PipelineConfig(out_dir=out, block_size=64, n_buckets=4,
                                                tiers=tiers, run_id=run_id, resume=resume))
        for stage in ("blocks", "tiers"):
            files = _unit_files(f"{out}/{stage}")
            assert files and all(len(f) == 1 for f in files.values()), (stage, files)
        for d, (f,) in _unit_files(f"{out}/tiers").items():
            got = pq.read_table(os.path.join(d, f), columns=["tier"])["tier"].to_pylist()
            assert got == sorted(got) and set(got) == {"1s", "1m", "1h"}, d
        assert all(r.ok for r in lineage.verify_lineage(
            spark, out, "tiers", f"{out}/tiers", ["tier", "source", "bucket"]).collect())

    run("run-a", False)
    units = sorted(lineage.done_keys(spark, out)["blocks"])[:2]
    for unit in units:
        source, bucket = unit.rsplit("/", 1)
        invalidate_where(spark, out, source, int(bucket))
    run("run-b", True)
    assert {r["partition_key"] for r in lineage.read_checkpoint(spark, out)
            .filter("run_id = 'run-b' and stage = 'tiers'").collect()} == {
        f"{t}/{u}" for t, _w in tiers for u in units}


def test_a_run_into_the_per_tier_layout_raises(spark, tmp_path):
    """A tiers output written with a directory per tier is refused before
    any write, not mixed with the one-file-per-unit layout."""
    import os

    from processor_post_timeseries_spark.operators.rollup import fused_tiers

    tiers = (("1s", 10),)
    seq = sequences(spark, 10, seed=19, min_tok=5, max_tok=50)
    out = str(tmp_path / "o")
    with_bucket(fused_tiers(seq, tiers), 2).write.partitionBy(
        "tier", "source", "bucket").parquet(f"{out}/tiers")
    with pytest.raises(ValueError, match="tier=<name> directories"):
        run_pipeline(spark, seq, PipelineConfig(out_dir=out, n_buckets=2, tiers=tiers))
    assert not os.path.exists(f"{out}/blocks")


def _jobs(spark, group, fn):
    """Run ``fn`` under job group ``group``; return how many jobs it ran."""
    sc = spark.sparkContext
    _drain(spark)
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    _drain(spark)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_resume_jobs_scale_with_the_units_it_touches(spark, tmp_path):
    """A small backfill costs what it touches: each invalidation is a
    read and a write of the checkpoint, a resume with nothing pending
    reads the plan inputs and stops, and a 2-unit resume runs no more
    jobs than a fresh run plus its one checkpoint read."""
    from processor_post_timeseries_spark.plans.backfill import invalidate_where

    tiers = (("1s", 10), ("1m", 6), ("1h", 6))
    path = str(tmp_path / "seq")
    sequences(spark, 80, seed=16, min_tok=5, max_tok=600, vocab=500).write.parquet(path)
    seq = spark.read.parquet(path)
    out = str(tmp_path / "o")

    def cfg(run_id, resume):
        return PipelineConfig(out_dir=out, block_size=64, n_buckets=4, tiers=tiers,
                              run_id=run_id, resume=resume)

    fresh = _jobs(spark, "fresh", lambda: run_pipeline(spark, seq, cfg("run-a", False)))
    units = sorted(lineage.done_keys(spark, out)["blocks"])[:2]
    for i, unit in enumerate(units):
        source, bucket = unit.rsplit("/", 1)
        assert _jobs(spark, f"invalidate{i}",
                     lambda: invalidate_where(spark, out, source, int(bucket))) <= 2

    resumed = cfg("run-b", True)
    assert _jobs(spark, "resume", lambda: run_pipeline(spark, seq, resumed)) <= fresh + 1
    assert {r["partition_key"] for r in lineage.read_checkpoint(spark, out)
            .filter("run_id = 'run-b' and stage = 'blocks'").collect()} == set(units)

    idle = cfg("run-c", True)
    assert _jobs(spark, "noop", lambda: run_pipeline(spark, seq, idle)) <= 3
    assert idle.metrics == {}
    assert lineage.read_checkpoint(spark, out).filter("run_id = 'run-c'").count() == 0


def test_empty_fresh_run_still_writes_its_stages(spark, tmp_path):
    """A fresh run over an empty input writes each (empty) stage, leaving
    its output directory and a zero row metric; a resume over it, with no
    unit pending, starts no stage."""
    import os

    empty = sequences(spark, 8, seed=3).filter(F.col("n_tok") < 0)
    out = str(tmp_path / "o")
    cfg = PipelineConfig(out_dir=out, block_size=64, n_buckets=4,
                         tiers=(("1s", 8),), resume=False)
    paths = run_pipeline(spark, empty, cfg)
    assert cfg.metrics == {s: {"rows_written": 0} for s in ("blocks", "tiers")}
    assert os.path.isdir(paths["blocks"]) and os.path.isdir(paths["tiers"])
    resumed = PipelineConfig(out_dir=out, block_size=64, n_buckets=4,
                             tiers=(("1s", 8),), resume=True)
    run_pipeline(spark, empty, resumed)
    assert resumed.metrics == {}


def test_failed_read_back_fails_the_run(spark, tmp_path, monkeypatch):
    """A non-empty stage whose read-back raises fails the run. Both stages'
    lineage is one checkpoint append after both writes, so neither stage
    is checkpointed as done: the blocks stage, whose read-back succeeded,
    is recomputed by the next resume too."""
    from pyspark.sql.readwriter import DataFrameReader

    out = str(tmp_path / "o")
    parquet = DataFrameReader.parquet

    def failing(self, *paths, **options):
        if f"{out}/tiers" in paths:
            raise OSError("tiers read-back failed")
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", failing)
    seq = sequences(spark, 10, seed=4, min_tok=5, max_tok=60, vocab=100)
    cfg = PipelineConfig(out_dir=out, block_size=64, n_buckets=2, tiers=(("1s", 8),))
    with pytest.raises(OSError, match="tiers read-back failed"):
        run_pipeline(spark, seq, cfg)
    monkeypatch.undo()
    assert cfg.metrics["tiers"]["rows_written"] > 0
    assert cfg.metrics["blocks"]["rows_written"] > 0
    assert lineage.done_keys(spark, out) == {}


def test_resume_input_is_coalesced_to_the_pending_share(spark, tmp_path):
    """The kernels of a k-of-N-unit resume read ceil(P·k/N) partitions of
    a P-partition input; a fresh run (every unit pending) reads all P,
    and an input with a shuffle is left as it is, without a job."""
    import math

    from processor_post_timeseries_spark.plans.pipeline import _pending_input

    path = str(tmp_path / "seq")
    sequences(spark, 120, seed=17, min_tok=5, max_tok=50).repartition(4).write.parquet(path)
    seq = with_bucket(spark.read.parquet(path), 2)
    units = sorted(r[0] for r in seq.select(lineage.key_col(["source", "bucket"]))
                   .distinct().collect())
    assert seq.rdd.getNumPartitions() == 4 and len(units) > 2
    want = math.ceil(4 * 2 / len(units))
    assert want < 4

    resumed = _pending_input(seq, units, units[:2])
    assert resumed.rdd.getNumPartitions() == want
    keys = {r[0] for r in resumed.select(lineage.key_col(["source", "bucket"])).collect()}
    assert keys == set(units[:2])
    assert _pending_input(seq, units, units).rdd.getNumPartitions() == 4

    shuffled = seq.repartition(3)
    assert _jobs(spark, "pending-input",
                 lambda: _pending_input(shuffled, units, units[:2])) == 0



def _with_empty_doc(spark):
    from processor_post_timeseries_spark.sources.synth import SEQ_SCHEMA

    return spark.createDataFrame([("a", [1, 2, 3], 3, "s1"), ("b", [], 0, "s2")], SEQ_SCHEMA)


def test_empty_doc_round_trips_through_blocks(spark):
    seq = _with_empty_doc(spark)
    rows = to_blocks(seq, block_size=2).filter("doc_id = 'b'").collect()
    assert [(r["block_no"], r["start_idx"], r["end_idx"], r["n"]) for r in rows] == [(0, 0, 0, 0)]
    back = {r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"])
            for r in from_blocks(to_blocks(seq, block_size=2)).collect()}
    assert back == {"a": ([1, 2, 3], 3, "s1"), "b": ([], 0, "s2")}


def test_unit_of_empty_docs_is_checkpointed_and_not_rerun(spark, tmp_path):
    """A unit whose docs are all empty gets its blocks checkpoint key, so a
    resume right after the fresh run has nothing pending in either stage."""
    seq = _with_empty_doc(spark)
    out = str(tmp_path / "o")
    tiers = (("1s", 2),)
    run_pipeline(spark, seq, PipelineConfig(out_dir=out, block_size=2, n_buckets=2, tiers=tiers,
                                            run_id="run-a", resume=False))
    resumed = PipelineConfig(out_dir=out, block_size=2, n_buckets=2, tiers=tiers, run_id="run-b")
    run_pipeline(spark, seq, resumed)
    assert resumed.metrics == {}
    assert lineage.read_checkpoint(spark, out).filter("run_id = 'run-b'").count() == 0
    done = lineage.done_keys(spark, out)["blocks"]
    assert {k.split("/")[0] for k in done} == {"s1", "s2"}


def test_null_tokens_error_names_the_doc(spark):
    seq = _with_empty_doc(spark)
    bad = seq.withColumn("tokens", F.when(F.col("doc_id") != "a", F.col("tokens")))
    with pytest.raises(Exception, match="NULL tokens for doc_id 'a'"):
        to_blocks(bad, block_size=2).collect()


def test_stored_timestamps_raise_and_an_all_null_ts_runs(spark, tmp_path):
    """Blocks and tiers are keyed by sample index: a doc with stored
    timestamps raises instead of losing them, while an implicit-rate
    series (``ts`` NULL, as nwb_chunks_to_sequences emits it) runs."""
    schema = "doc_id string, tokens array<int>, n_tok int, source string, ts array<long>"
    cfg = dict(block_size=2, n_buckets=2, tiers=(("1s", 2),))
    implicit = spark.createDataFrame([("a", [1, 2, 3], 3, "s1", None)], schema)
    out = str(tmp_path / "implicit")
    run_pipeline(spark, implicit, PipelineConfig(out_dir=out, **cfg))
    assert spark.read.parquet(f"{out}/blocks").count() == 2
    stored = spark.createDataFrame(
        [("a", [1, 2, 3], 3, "s1", None), ("b", [4, 5], 2, "s1", [0, 10])], schema)
    with pytest.raises(Exception, match="doc 'b' has stored timestamps"):
        run_pipeline(spark, stored, PipelineConfig(out_dir=str(tmp_path / "stored"), **cfg))
