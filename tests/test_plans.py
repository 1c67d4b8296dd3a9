"""Physical-plan assertions: the optimizations we rely on at 100 TB must
be visible in .explain() output, not assumed."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from processor_post_timeseries_spark.operators.rollup import rollup_all_tiers
from processor_post_timeseries_spark.sources.synth import sequences


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_tier_cascade_has_zero_shuffles(spark):
    seq = sequences(spark, 10, seed=1)
    tiers = rollup_all_tiers(seq, (("1s", 10), ("1m", 6), ("1h", 6)))
    plan = _plan(tiers["1h"])
    assert "Exchange" not in plan, plan  # the whole cascade is narrow


def test_filter_and_projection_pushed_to_parquet(spark, tmp_path):
    path = str(tmp_path / "t")
    sequences(spark, 50, seed=2).write.parquet(path)
    df = (
        spark.read.parquet(path)
        .filter(F.col("source") == "src-001")
        .select("doc_id", "n_tok")
    )
    plan = _plan(df)
    assert re.search(r"PushedFilters: \[.*IsNotNull\(source\).*EqualTo\(source,src-001\)", plan), plan
    read_schema = re.search(r"ReadSchema: (\S+)", plan).group(1)
    assert "tokens" not in read_schema, read_schema  # column pruned


def test_metadata_agg_never_reads_tokens(spark, tmp_path):
    path = str(tmp_path / "t2")
    sequences(spark, 50, seed=3).write.parquet(path)
    stats = spark.read.parquet(path).groupBy("source").agg(F.sum("n_tok").alias("total"))
    plan = _plan(stats)
    read_schema = re.search(r"ReadSchema: (\S+)", plan).group(1)
    assert "tokens" not in read_schema, read_schema


def test_small_dim_join_is_broadcast(spark, tmp_path):
    big = sequences(spark, 200, seed=4)
    dims = spark.createDataFrame(
        [(f"src-{i:03d}", f"group{i % 3}") for i in range(16)], "source string, grp string"
    )
    plan = _plan(big.join(dims, "source"))
    assert "BroadcastHashJoin" in plan, plan


def test_partition_pruning_on_bucketed_sink(spark, tmp_path):
    from processor_post_timeseries_spark.operators.partitioning import with_bucket

    path = str(tmp_path / "t3")
    with_bucket(sequences(spark, 60, seed=5), 4).write.partitionBy("source", "bucket").parquet(path)
    pruned = spark.read.parquet(path).filter((F.col("source") == "src-000") & (F.col("bucket") == 1))
    plan = _plan(pruned)
    # partition filters must hit the scan, not a post-filter
    assert re.search(r"PartitionFilters: \[.*source.*src-000.*bucket.*1", plan) or (
        "PartitionFilters" in plan and "src-000" in plan
    ), plan


def test_ivf_plan_has_no_vector_collect(spark):
    """The r1 centroid update gathered every member vector into one agg
    buffer (collect_list) — an OOM at corpus scale. The whole IVF search
    plan must stay free of vector-collecting aggregates; centroid updates
    travel as per-batch partial sums instead."""
    import numpy as np

    from processor_post_timeseries_spark.operators.similarity import ann_ivf_topk

    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(size=8).astype(np.float32).tolist(), 0) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    plan = _plan(ann_ivf_topk(emb, k=3, n_clusters=4, nprobe=2))
    assert "collect_list" not in plan


def test_lineage_resume_antijoin_is_broadcast(spark, tmp_path):
    """Resume filtering must not shuffle the corpus against the (tiny)
    checkpoint key set: the pending plan is a literal NOT IN over the
    driver-side done set, with no join and no exchange. The lineage
    read-back of the units a run wrote prunes partitions in its scan."""
    from processor_post_timeseries_spark.operators.partitioning import with_bucket
    from processor_post_timeseries_spark.plans import lineage
    from processor_post_timeseries_spark.plans.pipeline import (
        STAGE_KEYS,
        PipelineConfig,
        _written_units,
        run_pipeline,
    )

    seq = with_bucket(sequences(spark, 20, seed=5), 4)
    cfg = PipelineConfig(out_dir=str(tmp_path / "o"), block_size=64, n_buckets=4,
                         tiers=(("1s", 8),), resume=False)
    run_pipeline(spark, seq, cfg)
    pending = lineage.pending_only(seq, spark, cfg.out_dir, "blocks", ["source", "bucket"])
    plan = _plan(pending)
    assert "Exchange" not in plan and "Join" not in plan, plan
    assert re.search(r"Condition : NOT concat_ws\(.* IN(SET)? ", plan), plan

    keys = sorted(lineage.done_keys(spark, cfg.out_dir)["blocks"])[:2]
    for stage in ("blocks", "tiers"):
        written = _written_units(spark.read.parquet(f"{cfg.out_dir}/{stage}"), keys)
        plan = _plan(lineage._partition_stats(written, STAGE_KEYS[stage]))
        assert re.search(r"PartitionFilters: \[.*concat_ws.*\]", plan), (stage, plan)


def test_tier_filter_is_pushed_to_the_tiers_files(spark, tmp_path):
    """``tier`` is a data column of the tiers files, sorted within each
    unit: a tier filter reaches the Parquet reader (which can skip other
    tiers' row groups only in a file of more than one row group)."""
    from processor_post_timeseries_spark.plans.pipeline import PipelineConfig, run_pipeline

    cfg = PipelineConfig(out_dir=str(tmp_path / "o"), block_size=64, n_buckets=2,
                         tiers=(("1s", 8), ("1m", 4)), resume=False)
    run_pipeline(spark, sequences(spark, 20, seed=6), cfg)
    plan = _plan(spark.read.parquet(f"{cfg.out_dir}/tiers").filter(F.col("tier") == "1m"))
    assert re.search(r"PushedFilters: \[.*EqualTo\(tier,1m\)", plan), plan


def test_lineage_checksum_does_not_depend_on_column_order(spark, tmp_path):
    """The row hash takes the non-key columns in order and the key columns
    last, so the same rows give the same checksums with the key columns
    anywhere: read back from one file per unit (``tier`` a data column),
    with the keys moved first, or read back from a directory per tier
    (the layout older checkpoints certify)."""
    from processor_post_timeseries_spark.operators.partitioning import with_bucket
    from processor_post_timeseries_spark.operators.rollup import fused_tiers
    from processor_post_timeseries_spark.plans import lineage
    from processor_post_timeseries_spark.plans.pipeline import STAGE_KEYS

    keys = STAGE_KEYS["tiers"]
    rows = with_bucket(fused_tiers(sequences(spark, 20, seed=7), (("1s", 8), ("1m", 4))), 2)
    rows.write.partitionBy("source", "bucket").parquet(str(tmp_path / "unit"))
    rows.write.partitionBy(*keys).parquet(str(tmp_path / "tier"))
    back = spark.read.parquet(str(tmp_path / "unit"))
    assert "tier" not in back.columns[-2:]

    def stats(df):
        return sorted(tuple(r) for r in lineage._partition_stats(df, keys)
                      .select("partition_key", "row_count", "checksum").collect())

    want = stats(back)
    assert len(want) > 2
    assert stats(back.select(*keys, *(c for c in back.columns if c not in keys))) == want
    assert stats(spark.read.parquet(str(tmp_path / "tier"))) == want


def test_asof_join_is_single_window_pass(spark):
    """asof_join must compile to window exchanges only — never a range
    join (BroadcastNestedLoop / CartesianProduct), which is the naive
    O(|L|x|R|) theta-join shape it exists to avoid."""
    from processor_post_timeseries_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100, 1)], "k int, ts long, lid int")
    right = spark.createDataFrame([(1, 90, 1.0, 1)], "k int, ts long, v double, rid int")
    plan = _plan(asof_join(left, right, by="k", ts="ts",
                           right_cols={"v": "rv"}, right_tiebreak="rid"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan


def test_interval_join_is_equi_join_on_cell(spark):
    """interval_join's containment must ride an equi-join on the grid
    cell (hash/sort-merge/broadcast-HASH), never a nested-loop scan."""
    from processor_post_timeseries_spark.operators.interval import interval_join

    pts = spark.createDataFrame([(5, 1)], "ts long, pid int")
    iv = spark.createDataFrame([(0, 10, 1)], "s long, e long, iid int")
    plan = _plan(interval_join(pts, iv, "ts", "s", "e", grid_us=4))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_resample_has_no_joins_at_all(spark):
    """resample_linear resolves both brackets in one window pass — the
    plan must contain window exchanges but zero join operators."""
    from processor_post_timeseries_spark.operators.resample import resample_linear

    df = spark.createDataFrame([(1, 0, 1.0, 1), (1, 10, 2.0, 2)],
                               "k int, ts long, v double, i int")
    plan = _plan(resample_linear(df, "k", "ts", "v", step_us=5, tiebreak="i"))
    assert "Join" not in plan, plan
    assert "Window" in plan, plan
