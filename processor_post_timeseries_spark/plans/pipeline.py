"""End-to-end resumable rollup pipeline: sequences -> blocks + tier tables.

The engine's flagship plan (reference lifecycle §3.1 re-expressed):

    sequences (doc_id, tokens, n_tok, source)
      -> salt bucket (partitioning.with_bucket)
      -> [stage blocks]  DoD-compress fixed-size blocks, write
         partitionBy(source, bucket)                    (narrow map)
      -> [stage tiers]   cascading continuous aggregates raw->1s->1m->1h,
         all tiers from one tier-kernel pass (rollup.fused_tiers),
         sorted by tier within each unit and written
         partitionBy(source, bucket)                    (narrow map)
      -> checkpoint rows per stage partition (lineage.py)

Each (source, bucket) unit of a stage is one Parquet file: ``tier`` is a
data column of the tiers stage, not a directory level. Every file costs
a few ms of executor CPU to write or read back whatever its size, and
the 1m and 1h rows of a unit are 60x and 3600x smaller than its 1s
rows, so a file per tier would make two thirds of the files tiny. The
price is on the read side: a ``tier = '1m'`` or ``'1h'`` filter is no
longer a directory prune, so it opens every unit's file. The filter is
pushed to the Parquet reader, and a file's rows are in tier order, but
row-group statistics only skip the 1s rows of a file that holds more
than one row group (larger than ``parquet.block.size``, 128 MB by
default); a smaller file is read whole. The checkpoint keeps one key
per tier ("tier/source/bucket", ``STAGE_KEYS``).

The work units are planned on the driver once per run: the input's
(source, bucket) keys are collected (a column-pruned distinct, at most
sources × buckets strings) and, when a checkpoint exists, its done keys
are read once and shared by both stages. One stage runner,
``_run_stage``, serves both stages: on a resume its pending units are
the input units missing any checkpoint key the current config expects
(one per tier for tiers), on a fresh run every input unit. Either way a
rewritten unit's keys of tiers no longer configured are dropped first,
since its new file holds no rows of them. A resumed stage with nothing
pending starts no job;
otherwise it scans the raw sequences once, less the done units (a
literal ``NOT IN``, ``lineage.drop_done``; a fresh run has none),
writes them with dynamic partition overwrite (an idempotent re-write),
then certifies lineage from a read-back pruned to the partitions it
wrote. The stages run on a two-worker thread pool whose threads start
with the caller's local properties (job group, pool); the caller's
thread is not touched.

A resume runs its kernels on its share of the input: with k of N units
pending, the filtered input is coalesced from its P planned partitions
to ceil(P·k/N) (``_pending_input``). Every Python task has a fixed
worker cost before it reads a row: about 0.04 s of CPU on a 4-vCPU host
once the worker has run an engine task (``_zipcache`` stops
``importlib.invalidate_caches`` re-reading the zip importers'
directories), about 0.2 s on a worker's first engine task. So a 2-unit
backfill should still start few tasks, not one per input split. A unit
is a ``doc_id`` hash bucket within a source, so its rows are spread over
every split and each coalesced task carries about as many rows as a
fresh-run task.

Shuffle census at 100 TB: ZERO wide dependencies in the whole pipeline —
blocks and every tier are per-row maps before the one
``repartition(*partition cols)`` every stage write runs to shape output
files. The only shuffles in the system are (a) that repartition, (b)
cross-doc summary stats (tiny), (c) lineage groupBys over
already-reduced outputs.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.blocks import to_blocks
from ..operators.partitioning import DEFAULT_BUCKETS, with_bucket
from ..operators.rollup import DEFAULT_TIERS, fused_tiers
from . import lineage
from .backfill import invalidate_units

# the fields of each stage's checkpoint partition_key ("source/bucket",
# "tier/source/bucket"): its lineage keys
STAGE_KEYS = {"blocks": ["source", "bucket"], "tiers": ["tier", "source", "bucket"]}
# the work unit both stages resume and record by, and the partition
# columns of both stages' output
_UNIT = ["source", "bucket"]
_POOL = "spark.scheduler.pool"


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


def _pending_input(seq: DataFrame, units: list[str], pending: list[str]) -> DataFrame:
    """The stage input less its done units, coalesced to the pending
    units' share of its partitions: ceil(P·k/N) for k of N units pending,
    where P is the input's planned partition count. A fresh run, or a
    resume with every unit pending, keeps all P partitions. So does an
    input whose plan has a shuffle: counting its partitions under AQE
    would run that shuffle an extra time."""
    if len(pending) == len(units):
        return seq
    seq = lineage.drop_done(seq, _UNIT, set(units).difference(pending))
    # an adaptive plan materializes its query stages to build its RDD;
    # any other plan yields its partition count without a job
    if seq._jdf.queryExecution().executedPlan().nodeName() == "AdaptiveSparkPlan":
        return seq
    return seq.coalesce(math.ceil(seq.rdd.getNumPartitions() * len(pending) / len(units)))


def _stale_keys(done: set[str], prefixes: tuple[str, ...], pending: list[str]) -> list[str]:
    """The done checkpoint keys of ``pending`` units under a tier the
    config no longer has: rewriting a unit replaces its one file, rows of
    a dropped tier included, so their keys must go before the new ones
    are recorded, on a fresh run as on a resume. An untiered stage's keys
    are its units: none is stale."""
    if not all(prefixes):
        return []
    pend = set(pending)
    return sorted(k for k in done
                  if (p := k.partition("/"))[2] in pend and p[0] + "/" not in prefixes)


def _listing(spark: SparkSession, path: str) -> list[str] | None:
    """The entry names of directory ``path``, or None when it does not
    exist: one Hadoop FS call on the driver, no job."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
    return [s.getPath().getName() for s in fs.listStatus(p)] if fs.exists(p) else None


def _check_layout(spark: SparkSession, path: str) -> None:
    """Refuse a tiers output that still has a directory per tier: writing
    units of the one-file-per-unit layout next to it would mix the two,
    and neither a read nor a resume could tell them apart."""
    if any(n.startswith("tier=") for n in _listing(spark, path) or []):
        raise ValueError(
            f"{path} holds tier=<name> directories, the per-tier layout of an earlier "
            "version; the pipeline writes one file per (source, bucket) unit with tier as "
            "a column. Write to a new out_dir or remove the old tiers and their checkpoint."
        )


def _run_stage(spark: SparkSession, cfg: PipelineConfig, stage: str, seq: DataFrame,
               build: Callable[[DataFrame], DataFrame], prefixes: tuple[str, ...],
               units: list[str], done: set[str]) -> None:
    """Write and certify one stage over its pending units: on a resume,
    the input ``units`` not every expected checkpoint key ``prefix +
    unit`` of which is in ``done``; on a fresh run, every input unit. A
    resume with none pending returns without a job; a fresh run always
    writes, so an empty input still leaves its (file-less) stage
    directory and a ``rows_written`` of 0.

    The kernels run on the pending share of the input's partitions
    (``_pending_input``): each Python task has a fixed worker cost before
    it reads a row (about 0.04 s of CPU on a warm worker, 0.2 s on a
    worker's first engine task), so a resume of a few units runs each
    kernel in a task or two rather than one per input split, each with
    about a fresh-run task's rows. The limit: a resume whose pending
    units hold far more than their share of the rows gets fewer, larger
    tasks than a fresh run would.

    The stage's jobs run in its own FAIR pool (session.py sets
    scheduler.mode=FAIR): under FIFO whichever stage submits first hogs
    every slot and the other stalls behind it. Lineage then runs in the
    inherited pool, keeping its jobs out of the stage pools; a checkpoint
    row never precedes its data.
    """
    if cfg.resume:
        pending = [u for u in units if any(p + u not in done for p in prefixes)]
        if not pending:
            return
    else:
        pending = units
    stale = _stale_keys(done, prefixes, pending)
    if stale:
        invalidate_units(spark, cfg.out_dir, stage, stale)
    seq = _pending_input(seq, units, pending)
    sc = spark.sparkContext
    inherited = sc.getLocalProperty(_POOL)
    sc.setLocalProperty(_POOL, stage)
    path = f"{cfg.out_dir}/{stage}"
    obs = Observation()
    df = with_bucket(build(seq.drop("bucket")), cfg.n_buckets)
    df = df.observe(obs, F.count(F.lit(1)).alias("rows_written"))
    # align task partitioning with the sink layout: without this every
    # task writes a file into every (source, bucket) dir it touches ->
    # tasks × partitions tiny files; with it, one task owns few dirs and
    # writes one file to each. The unit is a prefix of the sort order, so
    # this sort is the writer's own (no second one); the rest of it puts
    # each tiers file in tier order
    order = _UNIT + [c for c in STAGE_KEYS[stage] if c not in _UNIT]
    df = df.repartition(*_UNIT).sortWithinPartitions(*order)
    df.write.mode("overwrite").partitionBy(*_UNIT).parquet(path)
    try:
        cfg.metrics[stage] = obs.get
    except Exception:
        # a zero-row write never materializes its observation row (Spark
        # asserts in toPyRow); an empty stage is a valid no-op
        cfg.metrics[stage] = {"rows_written": 0}
    if cfg.metrics[stage]["rows_written"] == 0:
        # a zero-row stage leaves no data files to read back — nothing to
        # certify, so no lineage rows (resume will re-attempt the keys)
        sc.setLocalProperty(_POOL, inherited)
        return
    written = spark.read.parquet(path)
    sc.setLocalProperty(_POOL, inherited)
    # lineage covers only the units THIS run wrote (a resumed run must
    # not re-attribute earlier runs' partitions); the predicate is over
    # partition columns, so the read-back scan is pruned to their files
    lineage.record_stage(spark, cfg.out_dir, stage, _written_units(written, pending),
                         STAGE_KEYS[stage], cfg.run_id)


def _written_units(written: DataFrame, units: list[str]) -> DataFrame:
    """The rows of ``units`` in a stage's read-back."""
    return written.filter(lineage.key_col(_UNIT).isin(units))


def run_pipeline(spark: SparkSession, seq_df: DataFrame, cfg: PipelineConfig) -> dict[str, str]:
    """Execute all stages (skipping checkpointed partitions). Returns
    {stage: output_path} for "blocks" and "tiers"; a tier's rows are
    ``tier = <name>`` of the tiers table. A path holds Parquet only once
    some run wrote rows to it: a fresh run over an empty input leaves
    file-less stage directories, and a resume with nothing pending leaves
    them as found. A tiers output in the older per-tier directory layout
    raises ``ValueError``. A doc with a non-NULL ``ts`` column raises
    when the run reads it: blocks and tiers are keyed by sample index,
    so stored timestamps would be dropped (``operators/irregular.py``
    cuts and aggregates explicit-timestamp series). An all-NULL ``ts``,
    an implicit-rate series, runs.

    The blocks stage and the tier cascade are independent DAGs over the
    same input, so they run as CONCURRENT Spark jobs, each tagged with
    its own FAIR scheduler pool: when one stage's task count drops below
    the core count (tail tasks, small cascade tiers), the other fills the
    idle slots. The pools matter — r3's same-window A/B showed plain FIFO
    concurrency is bimodal (15-42 s on identical input: first-submitted
    job starves the other), while FAIR-pooled concurrency is the fastest
    AND most stable mode measured: {24.4, 19.6, 20.9, 20.5} s vs serial
    {43.1, 50.1, 26.7, 23.0} s alternating in the same windows.

    Both stages finish (or fail) before this returns; the first stage
    error is raised after the other stage has stopped.
    """
    _check_layout(spark, f"{cfg.out_dir}/tiers")
    if "ts" in seq_df.columns:
        # a filter on the input both stages share, so pruning cannot drop it
        seq_df = seq_df.filter(F.when(F.col("ts").isNotNull(), F.raise_error(F.format_string(
            "doc '%s' has stored timestamps (ts), which run_pipeline would drop: it keys "
            "blocks and tiers by sample index; see operators/irregular.py", "doc_id",
        ))).otherwise(F.lit(True)))
    seq = with_bucket(seq_df, cfg.n_buckets)
    units = sorted(r[0] for r in seq.select(lineage.key_col(_UNIT)).distinct().collect())
    # a fresh run needs the done keys too: the stale ones of the units it
    # rewrites must go (_stale_keys)
    has_ckpt = _listing(spark, lineage._ckpt_path(cfg.out_dir)) is not None
    done = lineage.done_keys(spark, cfg.out_dir) if has_ckpt else {}
    # the checkpoint key prefixes each unit of a stage must have done
    stages = {
        "blocks": (lambda p: to_blocks(p, cfg.block_size), ("",)),
        "tiers": (lambda p: fused_tiers(p, cfg.tiers), tuple(f"{n}/" for n, _w in cfg.tiers)),
    }
    with ThreadPoolExecutor(len(stages), thread_name_prefix="pipeline") as ex:
        futures = [
            # wrapping copies the caller's local properties (job group,
            # pool) into the worker thread that runs the stage
            ex.submit(inheritable_thread_target(spark)(_run_stage), spark, cfg, stage, seq,
                      build, prefixes, units, done.get(stage, set()))
            for stage, (build, prefixes) in stages.items()
        ]
        for f in futures:
            f.result()
    return {stage: f"{cfg.out_dir}/{stage}" for stage in stages}
