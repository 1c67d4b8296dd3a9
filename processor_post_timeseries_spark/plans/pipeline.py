"""End-to-end resumable rollup pipeline: sequences -> blocks + tier tables.

The engine's flagship plan (reference lifecycle §3.1 re-expressed):

    sequences (doc_id, tokens, n_tok, source)
      -> salt bucket (partitioning.with_bucket)
      -> [stage blocks]  DoD-compress fixed-size blocks, write
         partitionBy(source, bucket)                    (narrow map)
      -> [stage tiers]   cascading continuous aggregates raw->1s->1m->1h,
         all tiers from one tier-kernel pass (rollup.fused_tiers),
         written partitionBy(tier, source, bucket)      (narrow map)
      -> checkpoint rows per (source, bucket) per stage (lineage.py)

There is one ingest path: the blocks and tiers stages each scan the raw
sequences once, and always run as concurrent Spark jobs.

Every stage is independently resumable: inputs are filtered through the
checkpoint anti-join, outputs land with dynamic partition overwrite
(idempotent re-write), lineage is computed from read-back files.

Shuffle census at 100 TB: ZERO wide dependencies in the whole pipeline —
blocks and every tier are per-row maps after the one optional
``repartition(source, bucket)`` used to shape output files. The only
shuffles in the system are (a) that explicit repartition, (b) cross-doc
summary stats (tiny), (c) lineage groupBys over already-reduced outputs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.blocks import to_blocks
from ..operators.partitioning import DEFAULT_BUCKETS, with_bucket
from ..operators.rollup import DEFAULT_TIERS, fused_tiers
from . import lineage


@dataclass
class PipelineConfig:
    """Settings of the one ingest path: a blocks stage and a tiers stage
    (every tier from one tier-kernel pass), each checkpointed per
    (source, bucket)."""

    out_dir: str
    block_size: int = 131_072
    n_buckets: int = DEFAULT_BUCKETS
    tiers: tuple = DEFAULT_TIERS
    run_id: str = field(default_factory=lineage.new_run_id)
    resume: bool = True
    # per-stage metrics captured DURING the write pass via df.observe
    # (operator A5: the reference's thread-safe progress counter,
    # /root/reference/processor/importer.py:117-127, re-expressed with
    # zero extra jobs)
    metrics: dict = field(default_factory=dict)


def _write_stage(
    spark: SparkSession,
    cfg: PipelineConfig,
    stage: str,
    df: DataFrame,
    key_cols: list[str],
    record_threads: list,
    keys_from: DataFrame,
) -> None:
    """Write one stage partition-first + record lineage from read-back.

    Lineage rows cover only the partitions THIS run wrote (a resumed run
    must not re-attribute earlier runs' partitions), so the read-back is
    semi-joined on the just-written keys — a broadcast of a tiny key set,
    and the parquet scan prunes to those partitions.

    The lineage job (a scan+groupBy of the just-written, already-reduced
    files) runs on a helper thread appended to ``record_threads`` as a
    concurrent Spark job instead of a barrier — the next stage starts
    immediately; the pipeline joins all lineage jobs before returning, so
    a checkpoint row still never precedes its data.
    """
    import threading

    from pyspark.sql import Observation

    path = f"{cfg.out_dir}/{stage}"
    key_cols = list(key_cols)
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows_written"))
    # align task partitioning with the sink layout: without this every
    # task writes a file into every (source, bucket) dir it touches ->
    # tasks × partitions tiny files; with it, one task owns few dirs
    df.repartition(*key_cols).write.mode("overwrite").partitionBy(*key_cols).parquet(path)
    try:
        cfg.metrics[stage] = obs.get
    except Exception:
        # a zero-row write never materializes its observation row (Spark
        # asserts in toPyRow); an empty stage is a valid no-op
        cfg.metrics[stage] = {"rows_written": 0}
    # partition keys this run wrote, WITHOUT re-executing the stage plan:
    # derived from the (column-pruned) stage input, whose key set equals
    # the output's (bucket is a pure function of doc_id)
    keys = keys_from.select(*key_cols).distinct()
    try:
        written = spark.read.parquet(path)
    except Exception:
        # a zero-row stage leaves no data files to read back — nothing to
        # certify, so no lineage rows (resume will re-attempt the keys)
        return

    def _record() -> None:
        lineage.record_stage(
            spark, cfg.out_dir, stage, written, key_cols, cfg.run_id, only_keys=keys
        )

    t = threading.Thread(target=_record, name=f"lineage-{stage}")
    t.start()
    record_threads.append(t)


def run_pipeline(spark: SparkSession, seq_df: DataFrame, cfg: PipelineConfig) -> dict[str, str]:
    """Execute all stages (skipping checkpointed partitions). Returns
    {stage: output_path}.

    The blocks stage and the tier cascade are independent DAGs over the
    same input, so they run as CONCURRENT Spark jobs (tiers on the
    caller thread, blocks on a helper), each tagged with its own FAIR
    scheduler pool: when one stage's task count drops below the core
    count (tail tasks, small cascade tiers), the other fills the idle
    slots. The pools matter — r3's same-window A/B showed plain FIFO
    concurrency is bimodal (15-42 s on identical input: first-submitted
    job starves the other), while FAIR-pooled concurrency is the fastest
    AND most stable mode measured: {24.4, 19.6, 20.9, 20.5} s vs serial
    {43.1, 50.1, 26.7, 23.0} s alternating in the same windows.
    """
    import threading

    seq = with_bucket(seq_df, cfg.n_buckets)
    out: dict[str, str] = {}
    blocks_err: list[BaseException] = []
    record_threads: list = []

    # -- stage: blocks (concurrent job) -----------------------------------
    def _blocks_stage() -> None:
        try:
            # FAIR pool per stage (session.py sets scheduler.mode=FAIR):
            # without this, FIFO lets whichever job submits first hog
            # every slot and the other stage stalls behind it
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", "blocks")
            stage = "blocks"
            pending = (
                lineage.pending_only(seq, spark, cfg.out_dir, stage, ["source", "bucket"])
                if cfg.resume
                else seq
            )
            # the isEmpty probe is only needed on resume (a fresh run's
            # input is known non-empty by the caller); it costs a serial
            # job that hurts scaling efficiency
            if not cfg.resume or not pending.isEmpty():
                blocks = to_blocks(pending.drop("bucket"), cfg.block_size)
                blocks = with_bucket(blocks, cfg.n_buckets)
                _write_stage(spark, cfg, stage, blocks, ["source", "bucket"],
                             record_threads=record_threads, keys_from=pending)
        except BaseException as e:  # surface on the caller thread
            blocks_err.append(e)

    blocks_thread = threading.Thread(target=_blocks_stage, name="blocks-stage")
    blocks_thread.start()
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "tiers")
    out["blocks"] = f"{cfg.out_dir}/blocks"

    # -- stage: tiers (every tier from one kernel pass over raw) ----------
    stage = "tiers"
    tier_names = [name for name, _f in cfg.tiers]
    if cfg.resume:
        # lineage keys are (tier, source, bucket); a work unit (source,
        # bucket) is done only when EVERY tier's row is checkpointed
        ck = lineage.read_checkpoint(spark, cfg.out_dir).filter(
            (F.col("stage") == stage) & (F.col("status") == "done")
        )
        parts = F.split("partition_key", "/")
        done_sb = (
            ck.select(parts[0].alias("tier"), parts[1].alias("source"), parts[2].alias("bucket"))
            .groupBy("source", "bucket")
            .agg(F.countDistinct("tier").alias("nt"))
            .filter(F.col("nt") >= len(tier_names))
            .select(F.concat_ws("/", "source", "bucket").alias("_pk"))
        )
        pending = (
            seq.withColumn("_pk", F.concat_ws("/", F.col("source"), F.col("bucket").cast("string")))
            .join(F.broadcast(done_sb), "_pk", "left_anti")
            .drop("_pk")
        )
    else:
        pending = seq
    if not cfg.resume or not pending.isEmpty():
        tiers = with_bucket(fused_tiers(pending.drop("bucket"), cfg.tiers), cfg.n_buckets)
        tier_dim = spark.createDataFrame([(n,) for n in tier_names], "tier string")
        keys_df = pending.select("source", "bucket").distinct().crossJoin(tier_dim)
        _write_stage(
            spark,
            cfg,
            stage,
            tiers,
            key_cols=["tier", "source", "bucket"],
            record_threads=record_threads,
            keys_from=keys_df,
        )
    out[stage] = f"{cfg.out_dir}/{stage}"
    for name in tier_names:
        out[f"tier_{name}"] = f"{cfg.out_dir}/{stage}/tier={name}"

    blocks_thread.join()
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
    for t in record_threads:
        t.join()
    if blocks_err:
        raise blocks_err[0]
    return out

