"""Streaming ingest quality gate — the micro-batch admission filter a
continuously-fed training corpus runs BEFORE documents reach the lake:
two-tier benchmark decontamination (``decontam.contaminated_ids``) +
quality scoring (``functions/text.py``) applied per micro-batch, with
Spark's streaming checkpoint giving exactly-once admission.

Why ``foreachBatch`` and not a streaming aggregation: the contamination
join aggregates per doc_id, which as a bare streaming agg would pin
unbounded doc state in the store. Each doc arrives WHOLE in one
micro-batch (documents are rows, not multi-row groups), so per-batch
batch-semantics are exact, state-free, and the benchmark side stays
small (a bloom bitmap built once per stream, shipped in the task
closure, plus the broadcast gram set) — the same plan the batch gate
runs, incrementally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import quality_score
from ..operators.decontam import build_bloom_bitmap, contaminated_ids

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def gate_batch(batch: DataFrame, benchmark: DataFrame, bitmap=None) -> DataFrame:
    """Pure (testable) gate: admit docs that are NOT contaminated
    (``decontam.contaminated_ids``: bloom prefilter, exact report on the
    flagged docs only) in word 5-grams, and score at least 0.0. Docs too
    short to have 5-grams are admitted (nothing to test), mirroring the
    batch report's domain.

    ``bitmap``: ``build_bloom_bitmap(benchmark)``, built once and
    reused across micro-batches so no batch re-scans the benchmark;
    built per call when None."""
    flagged = contaminated_ids(batch, benchmark, bitmap=bitmap)
    return (
        batch.join(flagged, "doc_id", "left_anti")
        .withColumn("quality", quality_score(F.col("text")))
        .filter(F.col("quality") >= 0.0)
    )


HASH_INDEX_SUBDIR = "_hash_index"
HASH_PREFIX_LEN = 2  # 16^2 = 256 prefix partitions


def _index_path(out_dir: str) -> str:
    # underscore-prefixed: Hadoop path filters treat it as metadata, so
    # readers scanning ``out_dir`` as one partitioned dataset never see
    # index files mixed into the lake
    return f"{out_dir.rstrip('/')}/{HASH_INDEX_SUBDIR}"


def write_admitted_batch(
    admitted: DataFrame, out_dir: str, batch_id: int
) -> None:
    """Idempotent per-micro-batch sink: each batch lands in its own
    ``out_dir/batch=<id>`` partition with OVERWRITE. foreachBatch gives
    at-least-once delivery — a batch that fails mid-append is replayed
    on restart — so a blind ``append`` would duplicate the rows the
    failed attempt already wrote. Overwriting the batch-id-derived
    directory makes the replay converge to exactly one copy regardless
    of how the previous attempt died."""
    admitted.write.mode("overwrite").parquet(f"{out_dir}/batch={int(batch_id)}")


def write_hash_index_batch(admitted: DataFrame, out_dir: str, batch_id: int) -> None:
    """Append this batch's content hashes to the admitted-hash index:
    ``out_dir/_hash_index/batch=<id>/_hp=<xx>/`` holding ONLY the
    32-char md5 (``_h``), partitioned by its first ``HASH_PREFIX_LEN``
    hex chars. The index is what keeps cross-batch dedup bounded: the
    per-batch anti-join reads 32-byte hashes (pruned by prefix), never
    the document lake. Same idempotent per-batch overwrite contract as
    ``write_admitted_batch`` — a replayed batch rewrites its own index
    partition."""
    idx = (
        admitted.select(F.md5(F.col("text")).alias("_h"))
        .distinct()
        .withColumn("_hp", F.substring("_h", 1, HASH_PREFIX_LEN))
    )
    idx.write.partitionBy("_hp").mode("overwrite").parquet(
        f"{_index_path(out_dir)}/batch={int(batch_id)}"
    )


def _read_admitted_hashes(spark: SparkSession, out_dir: str, batch_id: int):
    """Index rows admitted by every batch EXCEPT ``batch_id`` (a replayed
    batch must not self-exclude against its own partial commit), or None
    when no index exists yet. Existence is probed by ATTEMPTING the read
    scheme-agnostically — an ``os.path.isdir`` guard would silently skip
    dedup on s3://, hdfs:// etc. (always-False), exactly the silent
    failure this gate forbids; only the two 'nothing there yet' error
    conditions are swallowed, real storage errors propagate."""
    from pyspark.errors import AnalysisException

    try:
        idx = spark.read.parquet(_index_path(out_dir))
    except AnalysisException as e:
        cond = getattr(e, "getCondition", lambda: "")() or str(e)
        if "PATH_NOT_FOUND" in cond or "UNABLE_TO_INFER_SCHEMA" in cond:
            return None
        raise
    return idx.filter(F.col("batch") != int(batch_id))


def rebuild_hash_index(spark: SparkSession, out_dir: str) -> None:
    """One-time migration for lakes written before the index existed:
    derive every batch's index partition from its admitted documents.
    The per-batch loop is over the bounded batch count (driver-side
    metadata), not rows."""
    lake = spark.read.parquet(out_dir)
    for r in lake.select("batch").distinct().collect():
        b = int(r["batch"])
        write_hash_index_batch(
            lake.filter(F.col("batch") == b), out_dir, b
        )


def compact_hash_index(
    spark: SparkSession, out_dir: str, keep_last: int = 1
) -> int:
    """Offline index maintenance: fold completed batches' hash
    partitions into one compacted partition (named ``batch=-1`` when the
    run completes; still ``_hp``-prefix partitioned, distinct within
    prefix) so a long-lived stream's index stays O(prefixes) directories
    instead of O(batches). Returns how many real (non-negative) batch
    partitions were folded.

    Safety rules:
    * run while the stream is STOPPED. A batch the checkpoint has not
      committed may be replayed, and a replayed batch excludes only its
      OWN partition — hashes folded into the compacted partition would
      make it self-exclude and lose rows. ``keep_last`` newest batches
      are kept un-compacted as the safety margin for exactly that window.
    * crash tolerance: the READABLE index (the union of ``batch=*``
      partitions) never loses a hash. The merged partition is first
      staged OUTSIDE the index, then moved IN under a fresh negative
      generation id — only once that superset is visible are the source
      partitions deleted, and the final rename to ``batch=-1`` is pure
      tidying. A crash at any point leaves either a stale invisible
      staging dir (removed on the next run — the index is complete
      without it), duplicate hash rows across partitions (the anti-join
      is insensitive to duplicates), or an orphan negative generation
      (folded/renamed by the next run). Every negative batch id is a
      valid, complete compacted generation; real batch ids are ≥ 0, so
      generations can never collide with a replayed batch's
      self-exclusion filter."""
    import shutil
    from urllib.parse import urlparse

    idx_path = _index_path(out_dir)
    p = urlparse(idx_path)
    if p.scheme not in ("", "file"):  # local-FS seam, like legacy_export
        raise NotImplementedError(
            "compact_hash_index swap step is implemented for local paths; "
            "use a rename-capable FileSystem client for object stores"
        )
    root = p.path if p.scheme == "file" else idx_path
    staged = f"{out_dir.rstrip('/')}/_hash_index_staging"
    staged_local = urlparse(staged).path if p.scheme == "file" else staged
    # a stale staging dir means a prior run crashed BEFORE its move —
    # the readable index is complete without it, so it is safe to drop
    shutil.rmtree(staged_local, ignore_errors=True)

    hashes = _read_admitted_hashes(spark, out_dir, batch_id=-(2**62))
    if hashes is None:
        return 0
    batches = sorted(
        int(r["batch"]) for r in hashes.select("batch").distinct().collect()
    )
    negs = [b for b in batches if b < 0]  # compacted generations (all valid)
    nonneg = [b for b in batches if b >= 0]
    victims = nonneg[: max(len(nonneg) - keep_last, 0)]
    if not victims:
        if negs and negs != [-1]:
            # crash recovery only: fold orphan generations into batch=-1
            sources = negs
        else:
            return 0
    else:
        sources = victims + negs
    merged = (
        hashes.filter(F.col("batch").isin(sources)).select("_h", "_hp").distinct()
    )
    # stage OUTSIDE the index (underscore sibling: invisible to lake
    # readers and index partition discovery even if a crash leaves it)
    merged.write.partitionBy("_hp").mode("overwrite").parquet(staged)
    # move IN as a fresh negative generation: from this point the index
    # is a superset of its pre-compaction self, so deletes cannot lose
    new_gen = min(negs, default=-1) - 1
    shutil.move(staged_local, f"{root}/batch={new_gen}")
    for b in sources:
        shutil.rmtree(f"{root}/batch={b}", ignore_errors=True)
    shutil.move(f"{root}/batch={new_gen}", f"{root}/batch=-1")
    return len(victims)


def dedup_against_admitted(
    spark: SparkSession,
    batch: DataFrame,
    out_dir: str,
    batch_id: int,
) -> DataFrame:
    """Cross-micro-batch exact dedup: drop docs whose content hash was
    already admitted in ANY earlier batch. The dedup state is the
    append-only admitted-hash INDEX the sink maintains
    (``write_hash_index_batch``), so per-batch cost is bounded by index
    hashes — 32 bytes/doc, prefix-pruned — instead of re-reading the
    whole document lake each tick (the r3 scale defect). It needs no
    state store, survives restarts for free, and replaying a failed
    batch re-derives the identical decision (the overwrite sinks then
    make the replay a no-op). Also dedups WITHIN the batch (keep min
    doc_id).

    ``batch_id``'s OWN index partition is excluded from the read-back: a
    replayed batch whose previous attempt committed its index before
    dying would otherwise see its own hashes, self-exclude every row,
    and the subsequent overwrite would erase them — permanent loss.

    Prefix pruning: the batch's distinct hash prefixes (≤ 256 values, a
    bounded driver-side collect) become a partition filter on the index
    scan — a small batch touches only its prefixes' directories."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("_h").orderBy("doc_id")
    batch = (
        batch.withColumn("_h", F.md5(F.col("text")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    seen = _read_admitted_hashes(spark, out_dir, batch_id)
    if seen is not None:
        prefixes = [
            r["_hp"]
            for r in batch.select(
                F.substring("_h", 1, HASH_PREFIX_LEN).alias("_hp")
            )
            .distinct()
            .collect()
        ]
        batch = batch.join(
            seen.filter(F.col("_hp").isin(prefixes)).select("_h"),
            "_h",
            "left_anti",
        )
    return batch.drop("_h")


def run_ingest_gate_available_now(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    benchmark: DataFrame,
    dedupe: bool = False,
):
    """readStream(documents parquet) -> per-batch gate -> per-batch
    overwrite parquet (``out_dir/batch=<id>``), trigger availableNow.

    Exactly-once admission = the streaming checkpoint (completed batches
    are never re-run on a clean restart) PLUS the idempotent per-batch
    sink (a batch replayed after a mid-write failure overwrites its own
    partition instead of appending a second copy). Readers scan
    ``out_dir`` as one partitioned dataset; ``batch`` appears as a
    partition column.

    The benchmark bloom bitmap is built ONCE, before the stream starts,
    and every batch's ``gate_batch`` reuses it."""
    bitmap = build_bloom_bitmap(benchmark)
    src = spark.readStream.schema(DOC_SCHEMA).parquet(in_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        admitted = gate_batch(
            batch_df,
            benchmark,
            bitmap=bitmap,
        )
        if dedupe:
            admitted = dedup_against_admitted(spark, admitted, out_dir, batch_id)
        write_admitted_batch(admitted, out_dir, batch_id)
        if dedupe:
            # maintain the admitted-hash index the NEXT batch dedups
            # against; order vs the data write is immaterial — a crash
            # between the two replays the batch, which recomputes the
            # same admitted set (its decisions come from OTHER batches'
            # index partitions) and overwrites both
            write_hash_index_batch(admitted, out_dir, batch_id)

    return (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
