"""One benchmark workload, run as its own Spark driver process.

Started by ``run.py``; writes its result as JSON to ``--result``. Each
workload is a closed loop with one client (this process): it calls the
engine's public functions and waits for each call to finish, repeating
its operation sequence until ``--seconds`` have passed. Outputs are
checked outside the timed regions; every check and every timed call is
one attempted operation, and an exception or a failed check is one
failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyspark  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import tracing as tr  # noqa: E402
from procfs import host_cpu_ticks, steal_share, tree_cpu_s  # noqa: E402

# Input sizes. "full" is what the benchmark measures; "smoke" is the
# tiny size smoke.py uses to check that every metric is produced.
SIZES = {
    "ingest": {
        "full": {"n_docs": 1000, "n_long": 6},
        "smoke": {"n_docs": 300, "n_long": 2},
    },
    "registry": {"full": {"sf": 0.005}, "smoke": {"sf": 0.001}},
}
# the long docs: 1-3 blocks of the default 131072-token block size
LONG_DOC_TOKENS = (100_000, 300_000)
POINT_READS = 2  # long docs fetched one at a time per iteration
PRUNED_SOURCE = "src-000"  # the hot source; the tier query's pruned read
PREP_REPS = 3  # input preparation is repeated; setup_s takes the median
N_BUCKETS = 8  # every other PipelineConfig field keeps its default
# (source, bucket) work units a resume recomputes: one of the hot
# src-000 and a colder one, about 4 % of the tokens together
RESUME_UNITS = [("src-000", 3), ("src-006", 5)]
REGISTRY_QUERIES = [
    "q3_shipping_priority",
    "w1_sessionize_events",
    "dedup_minhash_lsh",
    "tok_pack_manifest",
    "train_order_manifest",
    "ann_cosine_topk",
]

def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def geomean(xs: list[float]) -> float:
    """Geometric mean: every query of a pass moves it by its own ratio."""
    return float(statistics.geometric_mean(xs))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def array_sum(col: str):
    """Exact int64 sum of an integer array column."""
    return F.aggregate(col, F.lit(0).cast("long"), lambda a, x: a + x)


def doc_hashes(df) -> list[tuple]:
    """The multiset of (doc_id, xxhash64(tokens)) of a sequences table."""
    return sorted(tuple(r) for r in df.select("doc_id", F.xxhash64("tokens")).collect())


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Hadoop .crc side files and
    _SUCCESS markers count toward bytes but not files."""
    total = files = 0
    for d, _subdirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += not n.startswith((".", "_"))
    return total, files


class Bench:
    """Shared harness: session, tracer, op/check accounting, timed loop."""

    def __init__(self, args):
        self.args = args
        self.size = SIZES[args.workload][args.size]
        self.work = args.work
        self.seed = args.seed
        self.tracer = tr.Tracer(bool(args.trace))
        self.span = self.tracer.span
        self.samples: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        self.windows: dict[str, list[tuple[float, float]]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.named: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.inputs: dict = {}
        self.load1_start = os.getloadavg()[0]
        self.cpu_ticks_start = host_cpu_ticks()
        self.prep_extra_s = 0.0
        self.prep_extra_cpu_s = 0.0
        self.loop_windows: list[tuple[float, float]] = []
        # wall and CPU seconds of the timed calls of the current loop
        # iteration; closed_loop files them under "cycle"
        self.iter_wall = 0.0
        self.iter_cpu = 0.0

    # -- session --------------------------------------------------------
    def start_session(self) -> None:
        from processor_post_timeseries_spark.session import get_spark

        conf = {
            "spark.driver.memory": "2g",
            # a fixed, pre-touched heap keeps the JVM's share of
            # peak_rss_gb from following GC timing; a fixed set of JIT
            # compiler threads lets procfs.tree_cpu_s leave their CPU out
            "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch "
            f"-XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={self.work}/tmp",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            os.makedirs(f"{self.work}/eventlog", exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = f"{self.work}/eventlog"
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        with self.span("session.get_spark"):
            self.spark = get_spark(
                f"perfbench-{self.args.workload}",
                master=f"local[{self.args.nproc}]",
                extra_conf=conf,
            )

    # -- accounting ---------------------------------------------------------
    def timed(self, name: str, fn, span: str | None = None):
        """One attempted operation; its wall time joins ``name``'s samples."""
        self.attempted += 1
        t0, w0, c0 = time.perf_counter(), time.time(), tree_cpu_s(os.getpid())
        try:
            with self.span(span or name):
                out = fn()
        except Exception:
            self.failed += 1
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None
        wall, cpu = time.perf_counter() - t0, tree_cpu_s(os.getpid()) - c0
        self.samples.setdefault(name, []).append(wall)
        self.cpu.setdefault(name, []).append(cpu)
        self.windows.setdefault(name, []).append((w0, time.time()))
        self.iter_wall += wall
        self.iter_cpu += cpu
        return out

    def check(self, name: str, fn) -> None:
        """One attempted operation: ``fn`` returns True when outputs are right."""
        self.attempted += 1
        try:
            ok = bool(fn())
        except Exception:
            ok = False
            self.failures.append(f"check {name}: {traceback.format_exc(limit=3)}")
        else:
            if not ok:
                self.failures.append(f"check {name}: wrong output")
        self.failed += not ok

    def prep(self, fn) -> None:
        """Run an input preparation step PREP_REPS times. setup_s counts
        it once, at its median; the other repetitions are set aside."""
        times, cpus = [], []
        for _ in range(PREP_REPS):
            t0, c0 = time.perf_counter(), tree_cpu_s(os.getpid())
            fn()
            times.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s(os.getpid()) - c0)
        self.prep_extra_s += sum(times) - median(times)
        self.prep_extra_cpu_s += sum(cpus) - median(cpus)
        self.log("prepared inputs x%d: %s s" % (PREP_REPS, " ".join(f"{t:.2f}" for t in times)))

    def closed_loop(self, ops) -> None:
        """Repeat the op sequence until the run's seconds have passed.
        One pass over ``ops`` is one iteration ("cycle")."""
        deadline = time.perf_counter() + self.args.seconds
        while True:
            self.iter_wall = self.iter_cpu = 0.0
            for op in ops:
                op()
            self.samples.setdefault("cycle", []).append(self.iter_wall)
            self.cpu.setdefault("cycle", []).append(self.iter_cpu)
            if time.perf_counter() >= deadline:
                break

    def probe(self, metric: str, span: str, fn) -> None:
        """Traced run only: one standalone layer call, timed by its span."""
        self.timed(metric, fn, span=span)
        if metric in self.samples:
            self.layer[metric] = self.samples[metric][-1]

    def span_median(self, metric: str, span: str) -> None:
        d = self.tracer.durations(span)
        if d:
            self.layer[metric] = median(d)

    # -- result -------------------------------------------------------------
    def result(self, e2e: dict[str, float]) -> dict:
        self.spark.stop()
        if self.args.trace:
            self.finish_trace()
            metrics = self.layer
        else:
            metrics = e2e
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
            "e2e": e2e,
            "named": self.named,
            # every timed call's wall and CPU seconds, by operation
            "samples": {"wall": self.samples, "cpu": self.cpu},
            "failures": self.failures,
            "host": {
                "nproc": self.args.nproc,
                "load1_start": self.load1_start,
                "load1_end": os.getloadavg()[0],
                "steal_share": steal_share(self.cpu_ticks_start, host_cpu_ticks()),
                "spark": pyspark.__version__,
                "pyarrow": pa.__version__,
                "numpy": np.__version__,
                "pandas": pd.__version__,
                "seed": self.seed,
                "size": self.args.size,
                "inputs": self.inputs,
            },
        }

    def finish_trace(self) -> None:
        jobs = tr.read_event_log(f"{self.work}/eventlog")
        loop_jobs = tr.jobs_between(jobs, self.loop_windows)
        for c, v in tr.sum_counters(loop_jobs).items():
            self.layer[f"spark.{c}"] = v
        for m, v in self.tracer.module_self_s().items():
            self.layer[f"{m}.self_s"] = v
        extra = {"layer": self.layer, "jobs": jobs}
        extra.update(self.trace_extra(jobs))
        self.tracer.write(f"{self.work}/trace.json", extra)

    def trace_extra(self, jobs: list[dict]) -> dict:
        return {}

    def log(self, what: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.t0:8.2f} s  {what}",
              file=sys.stderr, flush=True)

    def run(self) -> dict:
        """Session and set-up, the timed loop, output checks, and in a
        traced run the layer probes. Returns the result record."""
        self.t0 = t0 = time.perf_counter()
        c0 = tree_cpu_s(os.getpid())
        self.start_session()
        self.log("session started")
        self.setup()
        self.setup_s = time.perf_counter() - t0 - self.prep_extra_s
        self.setup_cpu_s = tree_cpu_s(os.getpid()) - c0 - self.prep_extra_cpu_s
        self.log("set-up done")
        w0 = time.time()
        self.closed_loop(self.ops())
        self.loop_windows = [(w0, time.time())]
        self.log("timed loop done")
        self.checks()
        self.log("checks done")
        if self.args.trace:
            self.probes()
            self.log("probes done")
        res = self.result(self.end_to_end())
        self.log("session stopped")
        return res


# ----------------------------------------------------------------- ingest
class Ingest(Bench):
    """Fresh ``run_pipeline`` over a synthetic sequences corpus, a targeted
    backfill (invalidate a few work units and resume), then reads of what
    was written: a full ``from_blocks`` decode, single-doc point reads and
    tier queries.

    The corpus holds short docs (200-2000 tokens, one block each) from
    Zipf sources ``src-*`` and a few long, multi-block docs from their own
    sources ``nwb-*``, like NWB channels; the resume units are short-doc
    units, so their size does not depend on where the long docs land."""

    def cfg(self, run_id: str, resume: bool):
        from processor_post_timeseries_spark.plans.pipeline import PipelineConfig

        return PipelineConfig(
            out_dir=self.out, n_buckets=N_BUCKETS, run_id=run_id, resume=resume
        )

    def setup(self) -> None:
        from processor_post_timeseries_spark.operators.partitioning import with_bucket
        from processor_post_timeseries_spark.plans.pipeline import PipelineConfig, run_pipeline
        from processor_post_timeseries_spark.sources.synth import sequences

        self.seq_path, self.out = f"{self.work}/seq", f"{self.work}/out"
        lo, hi = LONG_DOC_TOKENS

        def gen():
            with self.span("sources.synth.sequences"):
                short = sequences(self.spark, self.size["n_docs"], seed=self.seed)
                long = sequences(self.spark, self.size["n_long"], seed=self.seed,
                                 min_tok=lo, max_tok=hi).select(
                    F.concat(F.lit("long-"), "doc_id").alias("doc_id"), "tokens", "n_tok",
                    F.regexp_replace("source", "^src-", "nwb-").alias("source"))
                short.unionByName(long).write.mode("overwrite").parquet(self.seq_path)

        self.prep(gen)
        self.seq = self.spark.read.parquet(self.seq_path)
        # the point-read list: the first long docs
        self.point_ids = [f"long-doc-{i:09d}" for i in range(min(POINT_READS, self.size["n_long"]))]
        # expected outputs, from the input in one pass: per-doc token sums
        # and hashes, and each point-read doc's (source, bucket) partition
        # and token array
        rows = with_bucket(self.seq, N_BUCKETS).select(
            "doc_id", "source", "bucket", "n_tok", F.xxhash64("tokens").alias("h"),
            array_sum("tokens").alias("s"),
            F.when(F.col("doc_id").isin(self.point_ids), F.col("tokens")).alias("tokens"),
        ).collect()
        self.want_docs = {r.doc_id: (r.s, r.n_tok) for r in rows}
        self.want_hashes = sorted((r.doc_id, r.h) for r in rows)
        self.want_stats: dict[str, tuple[int, int]] = {}
        for r in rows:
            s, c = self.want_stats.get(r.source, (0, 0))
            self.want_stats[r.source] = (s + r.s, c + r.n_tok)
        self.unit = {r.doc_id: (r.source, r.bucket) for r in rows}
        self.want_points = {r.doc_id: list(r.tokens) for r in rows if r.tokens is not None}
        self.n_tokens = sum(r.n_tok for r in rows)
        self.inputs = {"n_docs": len(rows), "n_long_docs": self.size["n_long"],
                       "n_tokens": self.n_tokens}
        self.fetched: dict[str, list] = {}
        # warm-up: one untimed fresh run over an eighth of the short docs,
        # then each kind of read once over what it wrote. It compiles
        # every kernel, writer and reader path; the timed runs then sit on
        # the flat part of the JIT warm-up curve
        eighth = self.seq.filter(F.col("doc_id") < f"doc-{self.size['n_docs'] // 8:09d}")
        warm = f"{self.work}/warm"
        with self.span("warmup"):
            run_pipeline(self.spark, eighth, PipelineConfig(
                out_dir=warm, n_buckets=N_BUCKETS, run_id="warm", resume=False))
            self.read(warm, ["doc-000000000"], timed=False)

    def ops(self):
        return [self.fresh, self.resume, lambda: self.read(self.out, self.point_ids)]

    def fresh(self) -> None:
        from processor_post_timeseries_spark.plans.pipeline import run_pipeline

        shutil.rmtree(self.out, ignore_errors=True)
        n = len(self.samples.get("fresh", []))
        self.timed(
            "fresh",
            lambda: run_pipeline(self.spark, self.seq, self.cfg(f"fresh{n}", False)),
            span="plans.pipeline.run_pipeline",
        )
        sizes = {s: tree_bytes(f"{self.out}/{s}") for s in ("blocks", "tiers", "_checkpoint")}
        self.samples.setdefault("stored_bytes", []).append(sum(b for b, _ in sizes.values()))
        self.sink = sizes

    def invalidated_rows(self) -> int:
        from processor_post_timeseries_spark.plans.lineage import read_checkpoint

        cond = F.lit(False)
        for src, b in RESUME_UNITS:
            unit = f"{src}/{b}"
            cond = cond | (F.col("partition_key") == unit) | F.col("partition_key").endswith(
                "/" + unit
            )
        row = read_checkpoint(self.spark, self.out).filter(cond).agg(F.sum("row_count")).collect()
        return int(row[0][0] or 0)

    def resume(self) -> None:
        from processor_post_timeseries_spark.plans.backfill import invalidate_where
        from processor_post_timeseries_spark.plans.pipeline import run_pipeline

        expected = self.invalidated_rows()
        n = len(self.samples.get("resume", []))
        cfg = self.cfg(f"resume{n}", True)

        def op():
            for src, b in RESUME_UNITS:
                with self.span("plans.backfill.invalidate_where"):
                    invalidate_where(self.spark, self.out, src, b)
            with self.span("plans.pipeline.run_pipeline.resume"):
                run_pipeline(self.spark, self.seq, cfg)

        self.timed("resume", op, span="resume")
        written = sum(m.get("rows_written", 0) for m in cfg.metrics.values())
        ratio = written / expected if expected else 0.0
        self.samples.setdefault("resume_rows_ratio", []).append(ratio)
        self.check("resume_rows_ratio", lambda: expected > 0 and ratio == 1.0)

    # -- reads --------------------------------------------------------------
    def point_read(self, out: str, doc: str) -> list:
        from processor_post_timeseries_spark.operators.blocks import from_blocks

        src, bucket = self.unit[doc]
        blocks = self.spark.read.parquet(f"{out}/blocks").filter(
            (F.col("source") == src) & (F.col("bucket") == bucket) & (F.col("doc_id") == doc))
        return from_blocks(blocks).select("tokens").collect()[0][0]

    def tier_query(self, out: str) -> None:
        from processor_post_timeseries_spark.operators.rollup import source_stats, tier_points

        tiers = self.spark.read.parquet(f"{out}/tiers")
        noop(source_stats(tier_points(tiers.filter(F.col("tier") == "1m"))))
        noop(tiers.filter((F.col("tier") == "1s") & (F.col("source") == PRUNED_SOURCE)))

    def read(self, out: str, docs: list[str], timed: bool = True) -> None:
        from processor_post_timeseries_spark.operators.blocks import from_blocks

        run = self.timed if timed else (lambda _name, fn, span=None: fn())
        # the decode's output is checked: its (doc_id, xxhash64(tokens))
        # rows come back instead of going to a noop sink
        self.decoded = run("decode", lambda: doc_hashes(
            from_blocks(self.spark.read.parquet(f"{out}/blocks"))),
            span="operators.blocks.from_blocks")
        for doc in docs:
            self.fetched[doc] = run("point_read", lambda d=doc: self.point_read(out, d),
                                    span="sources.point_read")
        run("tier_query", lambda: self.tier_query(out), span="operators.rollup.tier_query")

    def checks(self) -> None:
        from processor_post_timeseries_spark.operators.rollup import source_stats, tier_points
        from processor_post_timeseries_spark.plans.lineage import verify_lineage

        def lineage_ok(stage: str, keys: list[str]) -> bool:
            ok = verify_lineage(self.spark, self.out, stage, f"{self.out}/{stage}", keys)
            rows = ok.select("ok").collect()
            return bool(rows) and all(r.ok for r in rows)

        self.check("verify_lineage_blocks", lambda: lineage_ok("blocks", ["source", "bucket"]))
        self.check("verify_lineage_tiers", lambda: lineage_ok("tiers", ["tier", "source", "bucket"]))
        tiers = self.spark.read.parquet(f"{self.out}/tiers")

        def hour_sums() -> bool:
            got = (tiers.filter(F.col("tier") == "1h").groupBy("doc_id")
                   .agg(F.sum(array_sum("sums")).alias("s"), F.sum(array_sum("cnts")).alias("c"))
                   .collect())
            return {r.doc_id: (r.s, r.c) for r in got} == self.want_docs

        def source_stats_equal_input() -> bool:
            got = source_stats(tier_points(tiers.filter(F.col("tier") == "1m"))).collect()
            return {r.source: (r.sum_v, r.cnt) for r in got} == self.want_stats

        def pruned_read_equals_input() -> bool:
            got = tiers.filter((F.col("tier") == "1s") & (F.col("source") == PRUNED_SOURCE))
            return (got.agg(F.sum(array_sum("cnts"))).collect()[0][0]
                    == self.want_stats[PRUNED_SOURCE][1])

        self.check("tier_1h_sums", hour_sums)
        self.check("source_stats_equal_input", source_stats_equal_input)
        self.check("pruned_read_equals_input", pruned_read_equals_input)
        self.check("decoded_equals_input", lambda: self.decoded == self.want_hashes)
        self.check("point_reads_equal_input",
                   lambda: all(self.fetched.get(d) == self.want_points[d] for d in self.point_ids))

    def probes(self) -> None:
        from processor_post_timeseries_spark.functions.codec import (
            dod_decode_array,
            dod_encode_array,
        )
        from processor_post_timeseries_spark.operators.blocks import from_blocks, to_blocks
        from processor_post_timeseries_spark.operators.partitioning import with_bucket
        from processor_post_timeseries_spark.operators.rollup import (
            fused_tiers,
            source_stats,
            tier_points,
        )
        from processor_post_timeseries_spark.plans import lineage

        cfg = self.cfg("probe", False)
        seq = self.spark.read.parquet(self.seq_path)
        blocks = self.spark.read.parquet(f"{self.out}/blocks")
        tiers = self.spark.read.parquet(f"{self.out}/tiers")
        t1m = tiers.filter(F.col("tier") == "1m")
        self.probe("sources.scan_s", "sources.scan", lambda: noop(seq))
        self.probe("operators.blocks.to_blocks_s", "operators.blocks.to_blocks",
                   lambda: noop(to_blocks(seq, cfg.block_size)))
        self.probe("operators.rollup.fused_tiers_s", "operators.rollup.fused_tiers",
                   lambda: noop(fused_tiers(seq, cfg.tiers)))
        self.probe(
            "plans.lineage.record_stage_s", "plans.lineage.record_stage",
            lambda: lineage.record_stage(
                self.spark, f"{self.work}/probe_lineage", "blocks", blocks,
                ["source", "bucket"], "probe",
            ),
        )
        self.probe(
            "plans.lineage.pending_only_s", "plans.lineage.pending_only",
            lambda: noop(lineage.pending_only(
                with_bucket(seq, N_BUCKETS), self.spark, self.out, "blocks", ["source", "bucket"]
            )),
        )
        self.probe("sources.blocks_scan_s", "sources.blocks_scan", lambda: noop(blocks))
        self.probe("operators.blocks.from_blocks_s", "operators.blocks.from_blocks",
                   lambda: noop(from_blocks(blocks)))
        self.probe("operators.rollup.tier_points_s", "operators.rollup.tier_points",
                   lambda: noop(tier_points(t1m)))
        self.probe("operators.rollup.source_stats_s", "operators.rollup.source_stats",
                   lambda: noop(source_stats(tier_points(t1m))))
        self.probe("sources.pruned_tier_read_s", "sources.pruned_tier_read",
                   lambda: noop(tiers.filter((F.col("tier") == "1s")
                                             & (F.col("source") == PRUNED_SOURCE))))
        # the codec in-process, over a fixed sample of short docs and the
        # blocks of the point-read (long) docs
        arrays = [np.asarray(r[0], np.int32) for r in seq.select("tokens").limit(200).collect()]
        n_tok = sum(len(a) for a in arrays)
        t0 = time.perf_counter_ns()
        with self.span("functions.codec.dod_encode_array"):
            payload = sum(len(dod_encode_array(a)) for a in arrays)
        self.layer["functions.codec.encode_ns_per_token"] = (time.perf_counter_ns() - t0) / n_tok
        self.layer["functions.codec.payload_bytes_per_token"] = payload / n_tok
        payloads = [bytes(r[0]) for r in blocks.filter(F.col("doc_id").isin(self.point_ids))
                    .select("payload").collect()]
        t0 = time.perf_counter_ns()
        with self.span("functions.codec.dod_decode_array"):
            n_tok = sum(len(dod_decode_array(p)) for p in payloads)
        self.layer["functions.codec.decode_ns_per_token"] = (time.perf_counter_ns() - t0) / n_tok
        self.span_median("plans.backfill.invalidate_where_s", "plans.backfill.invalidate_where")
        self.span_median("plans.pipeline.resume_run_s", "plans.pipeline.run_pipeline.resume")
        self.layer["plans.pipeline.resume_rows_ratio"] = median(self.samples["resume_rows_ratio"])
        for s, key in (("blocks", "blocks"), ("tiers", "tiers"), ("_checkpoint", "checkpoint")):
            self.layer[f"sink.{key}_bytes"] = self.sink[s][0]
        self.layer["sink.files"] = sum(f for _b, f in self.sink.values())

    def trace_extra(self, jobs):
        fresh = tr.jobs_between(jobs, self.windows.get("fresh", []))
        n = max(len(self.windows.get("fresh", [])), 1)
        for metric, pick in (
            ("plans.pipeline.blocks_executor_s", lambda j: j["pool"] == "blocks"),
            ("plans.pipeline.tiers_executor_s", lambda j: j["pool"] == "tiers"),
            ("plans.lineage.executor_s", lambda j: j["pool"] not in ("blocks", "tiers")),
        ):
            self.layer[metric] = sum(j["executor_run_s"] for j in fresh if pick(j)) / n
        return {}

    def end_to_end(self) -> dict[str, float]:
        stored = median(self.samples["stored_bytes"]) / self.n_tokens
        self.named = {
            "ingest_tokens_per_s": self.n_tokens / median(self.samples["fresh"]),
            "resume_s": median(self.samples["resume"]),
            "stored_bytes_per_token": stored,
            "decode_tokens_per_s": self.n_tokens / median(self.samples["decode"]),
            "point_read_s": median(self.samples["point_read"]),
            "tier_query_s": median(self.samples["tier_query"]),
            "setup_wall_s": self.setup_s,
        }
        self.layer["sink.stored_bytes_per_token"] = stored
        # one loop iteration: a fresh run, the resume that follows it and
        # the reads of the result
        return {"setup_s": self.setup_cpu_s, "full_op_cpu_s": median(self.cpu["cycle"]),
                "small_op_cpu_s": median(self.cpu["resume"])}


# --------------------------------------------------------------- registry
class Registry(Bench):
    """A fixed list of registry queries over a generated sf dir, each
    built by ``contract.queries()[name]`` and written to a noop sink."""

    def setup(self) -> None:
        import sfgen
        from processor_post_timeseries_spark import contract

        self.sf_dir = f"{self.work}/sf"
        self.prep(lambda: self.inputs.update(sfgen.write(self.sf_dir, self.size["sf"], self.seed)))
        self.inputs["sf"] = self.size["sf"]
        self.queries = contract.queries()
        self.oracle_check()

    def oracle_check(self) -> None:
        """Each query once against its DuckDB oracle on the same sf dir,
        with the canonical comparison of tools/check_oracles.py. Also the
        first (cold) pass over the list."""
        import importlib.util

        import duckdb
        from processor_post_timeseries_spark import contract

        spec = importlib.util.spec_from_file_location(
            "check_oracles", os.path.join(ROOT, "tools", "check_oracles.py"))
        co = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(co)
        con = duckdb.connect()
        for t in contract.TABLES:
            con.sql(f"create view {t} as select * from '{self.sf_dir}/{t}.parquet'")
        oracles = contract.oracle_sql()

        def agree(name: str) -> bool:
            got = co.canon([r.asDict() for r in self.queries[name](self.spark, self.sf_dir).collect()])
            d = con.sql(oracles[name])
            cols = [c[0] for c in d.description]
            return got == co.canon([dict(zip(cols, r)) for r in d.fetchall()])

        for name in REGISTRY_QUERIES:
            self.check(f"oracle_{name}", lambda n=name: agree(n))
        con.close()

    def ops(self):
        return [self.one_pass]

    def one_pass(self) -> None:
        sc = self.spark.sparkContext
        per_query, per_query_cpu = [], []
        for name in REGISTRY_QUERIES:
            sc.setJobGroup(name, f"perfbench registry {name}")
            self.timed(name, lambda n=name: noop(self.queries[n](self.spark, self.sf_dir)),
                       span=f"contract.{name}")
            if name in self.samples:
                per_query.append(self.samples[name][-1])
                per_query_cpu.append(self.cpu[name][-1])
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.samples.setdefault("query_geomean", []).append(geomean(per_query))
        self.cpu.setdefault("query_geomean", []).append(geomean(per_query_cpu))

    def checks(self) -> None:
        pass  # oracle_check in set-up

    def probes(self) -> None:
        from processor_post_timeseries_spark.contract import load_views

        # load_views is memoized per session and sf dir; forget the memo
        # so the probe times a real load
        self.spark.conf.unset("spark.pts.loadedViews")
        self.probe("contract.load_views_s", "contract.load_views",
                   lambda: load_views(self.spark, self.sf_dir))
        for name in REGISTRY_QUERIES:
            if name in self.samples:
                self.layer[f"contract.{name}_s"] = median(self.samples[name])

    def trace_extra(self, jobs):
        loop = tr.jobs_between(jobs, self.loop_windows)
        return {"per_query": {
            name: tr.sum_counters([j for j in loop if j["group"] == name])
            for name in REGISTRY_QUERIES
        }}

    def end_to_end(self) -> dict[str, float]:
        self.named = {"registry_s": median(self.samples["cycle"]),
                      "query_geomean_s": median(self.samples["query_geomean"]),
                      "setup_wall_s": self.setup_s}
        return {"setup_s": self.setup_cpu_s, "full_op_cpu_s": median(self.cpu["cycle"]),
                "small_op_cpu_s": median(self.cpu["query_geomean"])}


WORKLOADS = {"ingest": Ingest, "registry": Registry}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--nproc", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    res = WORKLOADS[args.workload](args).run()
    with open(args.result, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
