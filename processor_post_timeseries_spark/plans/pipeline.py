"""End-to-end resumable rollup pipeline: sequences -> blocks + tier tables.

The engine's flagship plan (reference lifecycle §3.1 re-expressed):

    sequences (doc_id, tokens, n_tok, source)
      -> one Arrow kernel per input batch (_ingest_rows, one Python
         crossing): DoD-compressed fixed-size blocks (blocks.block_batch)
         and the cascading aggregates raw->1s->1m->1h, every tier from
         one pass (rollup.tier_batches), in one stage-tagged schema
      -> salt bucket (partitioning.with_bucket), ONE repartition by
         (source, bucket), its shuffle run once and read by both writes
      -> [stage blocks]  written partitionBy(source, bucket)
      -> [stage tiers]   sorted by tier within each unit, written
         partitionBy(source, bucket)
      -> checkpoint rows per stage partition, both stages in one
         append (lineage.py)

Each (source, bucket) unit of a stage is one Parquet file: ``tier`` is a
data column of the tiers stage, not a directory level, since every file
costs a few ms of executor CPU whatever its size and a unit's 1m and 1h
rows are 60x and 3600x smaller than its 1s rows. The price: a ``tier``
filter opens every unit's file, and row-group statistics skip the 1s
rows only in a file of several row groups (over ``parquet.block.size``).
The checkpoint keeps one key per tier ("tier/source/bucket",
``STAGE_KEYS``).

The work units are planned on the driver once per run: the input's
(source, bucket) keys are collected (a column-pruned distinct) and the
checkpoint's done keys read once. A stage's pending units are, on a
resume, the input units missing any key the config expects (one per tier
for tiers), on a fresh run every input unit; a rewritten unit's keys of
tiers no longer configured are dropped first. A resume with nothing
pending starts no job. Otherwise the input of the units pending in
either stage crosses into Python once, coalesced to the pending share of
its partitions (``_pending_input``: each Python task has a fixed worker
cost, about 0.04 s warm), and the stages are written one after the other
with dynamic partition overwrite (an idempotent re-write), then
certified from read-backs pruned to the units written.

Shuffle census at 100 TB: the one ``repartition(source, bucket)`` that
shapes both stages' files; lineage groupBys run over reduced outputs.
Nothing is cached: both writes read that exchange's shuffle files
(``_shuffled_once``), about 2.6 B per token, and AQE coalesces its
partitions as it would a single write's.
"""

from __future__ import annotations

import functools
import math
from collections.abc import Iterator
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..operators.blocks import BLOCK_SCHEMA, block_batch
from ..operators.partitioning import DEFAULT_BUCKETS, with_bucket
from ..operators.rollup import DEFAULT_TIERS, TIER_SCHEMA, tier_batches
from . import lineage
from .backfill import invalidate_units

# the fields of each stage's checkpoint partition_key ("source/bucket",
# "tier/source/bucket"): its lineage keys
STAGE_KEYS = {"blocks": ["source", "bucket"], "tiers": ["tier", "source", "bucket"]}
# the work unit both stages resume and record by, and the partition
# columns of both stages' output
_UNIT = ["source", "bucket"]
_POOL = "spark.scheduler.pool"
# the kernel's one row schema: (doc_id, source), each stage's own columns,
# NULL in the other stage's rows, and the ``stage`` tag
_ROW_SCHEMA = T.StructType(
    BLOCK_SCHEMA.fields[:2]
    + [T.StructField(f.name, f.dataType, True)
       for f in BLOCK_SCHEMA.fields[2:] + TIER_SCHEMA.fields[2:]]
    + [T.StructField("stage", T.StringType(), False)]
)
# its Arrow types as the kernels build them (list items named "item"),
# all fields nullable: one schema for every batch of the kernel's stream
_ROW_ARROW = pa.schema([
    (f.name, pa.list_(f.type.value_type) if pa.types.is_list(f.type) else f.type)
    for f in to_arrow_schema(_ROW_SCHEMA)
])


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


def _ingest_rows(batches: Iterator[pa.RecordBatch], block_size: int, tiers: tuple,
                 stages: tuple[str, ...]) -> Iterator[pa.RecordBatch]:
    """The one ingest kernel: each input batch's rows of ``blocks.block_batch``
    and ``rollup.tier_batches``, for the ``stages`` with pending units,
    tagged by ``stage`` in ``_ROW_ARROW`` (the other stage's columns NULL)."""
    for batch in batches:
        if not batch.num_rows:
            continue
        parts = [("blocks", block_batch(batch, block_size))] if "blocks" in stages else []
        if "tiers" in stages:
            parts += [("tiers", t) for t in tier_batches(batch, tiers)]
        for stage, part in parts:
            cols = dict(zip(part.schema.names, part.columns))
            cols["stage"] = pa.array([stage] * part.num_rows, pa.string())
            yield pa.RecordBatch.from_arrays(
                [cols[f.name] if f.name in cols else pa.nulls(part.num_rows, f.type)
                 for f in _ROW_ARROW], schema=_ROW_ARROW)


def _shuffled_once(spark: SparkSession, rows: DataFrame) -> DataFrame:
    """``rows`` as a frame over its executed RDD: every query of it reads
    the files of ``rows``' one shuffle, whose map stage runs once (here,
    under AQE) instead of once per query. Nothing is cached."""
    rdd = rows._jdf.queryExecution().toRdd()
    return DataFrame(spark._jsparkSession.internalCreateDataFrame(rdd, rows._jdf.schema(), False),
                     spark)


def _write_stage(cfg: PipelineConfig, stage: str, rows: DataFrame, pending: list[str],
                 todo: list[str]) -> None:
    """Write the ``pending`` units of one stage from the shared frame
    ``rows`` (of the ``todo`` units); keep its ``rows_written``."""
    df = rows.filter(F.col("stage") == stage)
    if len(pending) < len(todo):
        df = _written_units(df, pending)
    obs = Observation()
    names = (BLOCK_SCHEMA if stage == "blocks" else TIER_SCHEMA).names
    # one task owns each unit (the shared repartition): one file per unit.
    # The unit prefix of the sort is the writer's own (no second one); the
    # rest puts each tiers file in tier order
    order = _UNIT + [c for c in STAGE_KEYS[stage] if c not in _UNIT]
    (df.select(*names, "bucket").observe(obs, F.count(F.lit(1)).alias("rows_written"))
     .sortWithinPartitions(*order)
     .write.mode("overwrite").partitionBy(*_UNIT).parquet(f"{cfg.out_dir}/{stage}"))
    try:
        cfg.metrics[stage] = obs.get
    except Exception:
        # a zero-row write never materializes its observation row (Spark
        # asserts in toPyRow); an empty stage is a valid no-op
        cfg.metrics[stage] = {"rows_written": 0}


def _written_units(written: DataFrame, units: list[str]) -> DataFrame:
    """The rows of ``units`` in a stage's rows or its read-back."""
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

    Both stages' lineage is one checkpoint append after both writes: a
    run that fails before it records neither stage. Against two concurrent
    stage jobs, the one pass spends less CPU, but its jobs run one at a
    time: a 660M-token run is about 10 % faster on 1 core, 2 % on 4.
    """
    _check_layout(spark, f"{cfg.out_dir}/tiers")
    if "ts" in seq_df.columns:
        # a filter on the kernel's input, so pruning cannot drop it
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
    paths = {stage: f"{cfg.out_dir}/{stage}" for stage in STAGE_KEYS}
    # the checkpoint key prefixes each unit of a stage must have done
    prefixes = {"blocks": ("",), "tiers": tuple(f"{n}/" for n, _w in cfg.tiers)}
    pending = {}
    for stage, pre in prefixes.items():
        have = done.get(stage, set())
        left = [u for u in units if any(p + u not in have for p in pre)] if cfg.resume else units
        if left or not cfg.resume:
            pending[stage] = left
            stale = _stale_keys(have, pre, left)
            if stale:
                invalidate_units(spark, cfg.out_dir, stage, stale)
    if not pending:
        return paths
    # the units pending in either stage: the kernel's input
    todo = sorted(set().union(*pending.values()))
    kernel = functools.partial(_ingest_rows, block_size=cfg.block_size, tiers=cfg.tiers,
                               stages=tuple(pending))
    rows = with_bucket(
        _pending_input(seq, units, todo).select("doc_id", "source", "tokens")
        .mapInArrow(kernel, _ROW_SCHEMA),
        cfg.n_buckets,
    ).repartition(*_UNIT)
    sc = spark.sparkContext
    label = sc.getLocalProperty(_POOL)
    try:
        for stage, pend in pending.items():
            # the stage labels its jobs (the session schedules FIFO); the
            # shared pass runs under the first stage's label
            sc.setLocalProperty(_POOL, stage)
            if stage == next(iter(pending)):
                rows = _shuffled_once(spark, rows)
            _write_stage(cfg, stage, rows, pend, todo)
    finally:
        sc.setLocalProperty(_POOL, label)
    # lineage covers only the units THIS run wrote (a resumed run must not
    # re-attribute earlier runs' partitions); the predicate is over
    # partition columns, so each read-back scan is pruned to their files.
    # A zero-row stage has no files to certify: its keys stay pending
    written = {
        stage: (_written_units(spark.read.parquet(paths[stage]), pend), STAGE_KEYS[stage])
        for stage, pend in pending.items() if cfg.metrics[stage]["rows_written"]
    }
    if written:
        lineage.record_stages(spark, cfg.out_dir, written, cfg.run_id)
    return paths
