"""Streaming ingest gate: admission semantics + exactly-once restart."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from processor_post_timeseries_spark.streaming.ingest_gate import (
    gate_batch,
    run_ingest_gate_available_now,
    write_admitted_batch,
)


@pytest.fixture(scope="module")
def spark():
    from processor_post_timeseries_spark.session import get_spark

    return get_spark("test-gate", master="local[4]")


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_gate_batch_blocks_contaminated_admits_short(spark):
    bench = _docs(spark, [(900, "q w e r t")])
    batch = _docs(
        spark,
        [
            (1, "a b c d e f g"),     # clean
            (2, "x q w e r t y"),     # contains benchmark 5-gram -> blocked
            (3, "hi"),                # too short for 5-grams -> admitted
        ],
    )
    got = {r["doc_id"] for r in gate_batch(batch, bench, n=5).collect()}
    assert got == {1, 3}


def test_streaming_gate_exactly_once_across_restart(spark, tmp_path):
    in_dir, out_dir, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    bench = _docs(spark, [(900, "q w e r t")])

    _docs(spark, [(1, "a b c d e f"), (2, "x q w e r t y")]).write.mode(
        "append"
    ).parquet(in_dir)
    q = run_ingest_gate_available_now(spark, in_dir, out_dir, ck, bench, n=5)
    q.awaitTermination()
    first = spark.read.parquet(out_dir)
    assert {r["doc_id"] for r in first.collect()} == {1}

    # second wave lands; restart with the same checkpoint must process
    # ONLY the new files (doc 1 admitted exactly once)
    _docs(spark, [(3, "m n o p q r"), (4, "z q w e r t z")]).write.mode(
        "append"
    ).parquet(in_dir)
    q2 = run_ingest_gate_available_now(spark, in_dir, out_dir, ck, bench, n=5)
    q2.awaitTermination()
    out = spark.read.parquet(out_dir)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]
    assert out.filter(F.col("doc_id") == 1).count() == 1


def test_gate_batch_bloom_exact_identical_to_exact(spark):
    """The two-tier gate admits EXACTLY the set the exact report leaves:
    bloom has no false negatives, and flagged docs are re-verified
    exactly — with or without a precomputed bitmap."""
    from processor_post_timeseries_spark.operators.decontam import (
        build_bloom_bitmap,
        contamination_report,
    )

    bench = _docs(spark, [(900, "q w e r t"), (901, "u v w x y z")])
    batch = _docs(
        spark,
        [(i, f"tok{i} a b c d e{i}") for i in range(20)]
        + [(100, "x q w e r t y"), (101, "p u v w x y z q"), (102, "hi")],
    )
    contaminated = contamination_report(batch, bench, n=5).filter("contaminated")
    ref = {
        r["doc_id"]
        for r in batch.join(contaminated, "doc_id", "left_anti").collect()
    }
    assert {r["doc_id"] for r in gate_batch(batch, bench, n=5).collect()} == ref
    bm = build_bloom_bitmap(bench, n=5)
    assert {
        r["doc_id"] for r in gate_batch(batch, bench, n=5, bitmap=bm).collect()
    } == ref
    assert 100 not in ref and 101 not in ref and 102 in ref


def test_streaming_gate_bloom_exact_mode(spark, tmp_path):
    in_dir, out_dir, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    bench = _docs(spark, [(900, "q w e r t")])
    _docs(spark, [(1, "a b c d e f"), (2, "x q w e r t y")]).write.mode(
        "append"
    ).parquet(in_dir)
    q = run_ingest_gate_available_now(spark, in_dir, out_dir, ck, bench, n=5)
    q.awaitTermination()
    assert {r["doc_id"] for r in spark.read.parquet(out_dir).collect()} == {1}


def test_streaming_dedupe_across_waves(spark, tmp_path):
    """dedupe=True drops content-duplicates both within a micro-batch
    and against everything ANY earlier batch admitted — the dedup state
    is the sink itself, so it survives restarts with no state store."""
    in_dir, out_dir, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    bench = _docs(spark, [(900, "q w e r t")])

    # wave 1: docs 1 and 2 share identical text -> only min id admitted
    _docs(spark, [(1, "a b c d e f"), (2, "a b c d e f")]).write.mode(
        "append"
    ).parquet(in_dir)
    q = run_ingest_gate_available_now(spark, in_dir, out_dir, ck, bench, n=5, dedupe=True)
    q.awaitTermination()
    assert sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect()) == [1]

    # wave 2: doc 3 repeats wave-1 content (dropped), doc 4 is new
    _docs(spark, [(3, "a b c d e f"), (4, "m n o p q r")]).write.mode(
        "append"
    ).parquet(in_dir)
    q2 = run_ingest_gate_available_now(spark, in_dir, out_dir, ck, bench, n=5, dedupe=True)
    q2.awaitTermination()
    assert sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect()) == [1, 4]


def test_dedupe_replay_does_not_self_exclude(spark, tmp_path):
    """A replayed batch whose previous attempt PARTIALLY committed into
    its own batch=<id> partition must not treat those rows as 'already
    admitted' (that would drop them and the overwrite would erase them
    for good). The read-back excludes the current batch partition."""
    from processor_post_timeseries_spark.streaming.ingest_gate import (
        dedup_against_admitted,
        write_hash_index_batch,
    )

    out_dir = str(tmp_path / "out")
    batch = _docs(spark, [(1, "a b c d e f"), (2, "g h i j k l")])
    # earlier batch admitted doc 9 with DIFFERENT content
    prev = _docs(spark, [(9, "z z z z z")])
    write_admitted_batch(prev, out_dir, 3)
    write_hash_index_batch(prev, out_dir, 3)
    # failed attempt of batch 7 already flushed doc 1 — data AND index
    partial = batch.filter(F.col("doc_id") == 1)
    write_admitted_batch(partial, out_dir, 7)
    write_hash_index_batch(partial, out_dir, 7)
    # replay of batch 7: doc 1 must survive its own partial commit
    surv = dedup_against_admitted(spark, batch, out_dir, batch_id=7)
    assert sorted(r["doc_id"] for r in surv.collect()) == [1, 2]
    write_admitted_batch(surv, out_dir, 7)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    ) == [1, 2, 9]


def test_dedup_state_is_the_index_not_the_lake(spark, tmp_path):
    """Bounded-state contract (VERDICT r3 scale defect #3): per-batch
    dedup decisions come from out_dir/_hash_index ONLY. Proven
    behaviorally — delete every admitted DATA partition, keep the
    index, and a later batch with duplicate content is still excluded
    (a lake re-read would find nothing and admit it)."""
    import shutil
    from pathlib import Path

    from processor_post_timeseries_spark.streaming.ingest_gate import (
        dedup_against_admitted,
        write_hash_index_batch,
    )

    out_dir = str(tmp_path / "out")
    wave1 = _docs(spark, [(1, "a b c d e f")])
    write_admitted_batch(wave1, out_dir, 0)
    write_hash_index_batch(wave1, out_dir, 0)
    # the lake's data partitions vanish; the 32-byte hash index stays
    for p in Path(out_dir).glob("batch=*"):
        shutil.rmtree(p)
    wave2 = _docs(spark, [(5, "a b c d e f"), (6, "q r s t u v")])
    surv = dedup_against_admitted(spark, wave2, out_dir, batch_id=1)
    assert sorted(r["doc_id"] for r in surv.collect()) == [6]


def test_index_is_invisible_to_lake_readers(spark, tmp_path):
    """_hash_index is underscore-prefixed, so scanning out_dir as one
    partitioned dataset must not surface index rows or columns."""
    from processor_post_timeseries_spark.streaming.ingest_gate import (
        write_hash_index_batch,
    )

    out_dir = str(tmp_path / "out")
    wave = _docs(spark, [(1, "a b c d e f"), (2, "g h i j k l")])
    write_admitted_batch(wave, out_dir, 0)
    write_hash_index_batch(wave, out_dir, 0)
    lake = spark.read.parquet(out_dir)
    assert "_h" not in lake.columns and "_hp" not in lake.columns
    assert lake.count() == 2


def test_compact_hash_index_preserves_decisions(spark, tmp_path):
    """Compaction folds completed batches into batch=-1: dedup decisions
    unchanged, newest batch kept un-compacted, re-compaction
    convergent, and later batches keep appending."""
    from pathlib import Path

    from processor_post_timeseries_spark.streaming.ingest_gate import (
        compact_hash_index,
        dedup_against_admitted,
        write_hash_index_batch,
    )

    out_dir = str(tmp_path / "out")
    texts = ["a b c d e f", "g h i j k l", "m n o p q r"]
    for b, t in enumerate(texts):
        wave = _docs(spark, [(b * 10, t)])
        write_admitted_batch(wave, out_dir, b)
        write_hash_index_batch(wave, out_dir, b)

    assert compact_hash_index(spark, out_dir, keep_last=1) == 2
    dirs = sorted(p.name for p in Path(out_dir, "_hash_index").glob("batch=*"))
    assert dirs == ["batch=-1", "batch=2"]  # newest kept, rest folded
    # all three contents still excluded; a new one admitted
    batch = _docs(spark, [(50, texts[0]), (51, texts[2]), (52, "s t u v w x")])
    surv = dedup_against_admitted(spark, batch, out_dir, batch_id=3)
    assert sorted(r["doc_id"] for r in surv.collect()) == [52]
    # convergent: nothing further to fold except batch=2
    assert compact_hash_index(spark, out_dir, keep_last=0) == 1
    surv2 = dedup_against_admitted(spark, batch, out_dir, batch_id=3)
    assert sorted(r["doc_id"] for r in surv2.collect()) == [52]


def test_rebuild_hash_index_migrates_legacy_lake(spark, tmp_path):
    """Pre-index lakes: rebuild_hash_index derives per-batch index
    partitions, after which dedup excludes legacy content."""
    from processor_post_timeseries_spark.streaming.ingest_gate import (
        dedup_against_admitted,
        rebuild_hash_index,
    )

    out_dir = str(tmp_path / "out")
    write_admitted_batch(_docs(spark, [(1, "a b c d e f")]), out_dir, 0)
    write_admitted_batch(_docs(spark, [(2, "g h i j k l")]), out_dir, 1)
    rebuild_hash_index(spark, out_dir)
    batch = _docs(spark, [(7, "a b c d e f"), (8, "g h i j k l"), (9, "new text here")])
    surv = dedup_against_admitted(spark, batch, out_dir, batch_id=2)
    assert sorted(r["doc_id"] for r in surv.collect()) == [9]


def test_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a batch that failed mid-write is
    re-delivered with the SAME batch_id. The per-batch overwrite sink
    must converge to one copy, including rows a dying attempt already
    flushed."""
    out_dir = str(tmp_path / "out")
    batch = _docs(spark, [(1, "a b c d e f"), (2, "g h i j k l")])
    # first (simulated partial) attempt wrote only doc 1
    write_admitted_batch(batch.filter(F.col("doc_id") == 1), out_dir, 7)
    # replay delivers the full batch under the same id
    write_admitted_batch(batch, out_dir, 7)
    write_admitted_batch(batch, out_dir, 7)  # and a second replay
    out = spark.read.parquet(out_dir)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]


def test_compact_hash_index_crash_recovery(spark, tmp_path):
    """The readable index never loses hashes across compaction crash
    points (ADVICE r4 medium): a stale staging dir is dropped (index is
    complete without it), and an orphan negative generation left by a
    crash between the deletes and the final rename is folded back into
    batch=-1 with decisions unchanged."""
    import shutil
    from pathlib import Path

    from processor_post_timeseries_spark.streaming.ingest_gate import (
        compact_hash_index,
        dedup_against_admitted,
        write_hash_index_batch,
    )

    out_dir = str(tmp_path / "out")
    texts = ["a b c d e f", "g h i j k l", "m n o p q r"]
    for b, t in enumerate(texts):
        wave = _docs(spark, [(b * 10, t)])
        write_admitted_batch(wave, out_dir, b)
        write_hash_index_batch(wave, out_dir, b)
    idx = Path(out_dir, "_hash_index")

    # crash point A: staged write completed, move never happened
    shutil.copytree(idx / "batch=0", Path(out_dir, "_hash_index_staging"))
    assert compact_hash_index(spark, out_dir, keep_last=1) == 2
    assert not Path(out_dir, "_hash_index_staging").exists()
    dirs = sorted(p.name for p in idx.glob("batch=*"))
    assert dirs == ["batch=-1", "batch=2"]

    # crash point B: deletes done, final rename to batch=-1 missed —
    # simulate by renaming the compacted generation to an orphan id
    shutil.move(str(idx / "batch=-1"), str(idx / "batch=-3"))
    # recovery run reports 0 real batches folded but restores batch=-1
    assert compact_hash_index(spark, out_dir, keep_last=1) == 0
    dirs = sorted(p.name for p in idx.glob("batch=*"))
    assert dirs == ["batch=-1", "batch=2"]

    # decisions unchanged through both recoveries
    batch = _docs(spark, [(50, texts[0]), (51, texts[1]), (52, texts[2]), (53, "s t u v w x")])
    surv = dedup_against_admitted(spark, batch, out_dir, batch_id=9)
    assert sorted(r["doc_id"] for r in surv.collect()) == [53]
