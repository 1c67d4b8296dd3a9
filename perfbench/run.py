"""Benchmark entry point: runs one workload in its own driver process.

    python3 perfbench/run.py --workload {ingest,registry} \\
        --seed N --seconds S --trace {0,1} [--size {full,smoke}]

Run from the root of a checkout. The workload runs as a child process
(``workload.py``) with ``master=local[nproc]``; this process samples the
summed RSS of the child's whole process tree (Python driver, JVM and
Python workers) from /proc, so a crashed or OOM-killed JVM becomes
failed operations instead of a lost run.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0`` and the per-layer metrics with ``--trace 1``. The line
before it names the workload-specific figures and records the host.
Scratch files go under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from procfs import tree_rss

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "processor_post_timeseries_spark", "__init__.py")
TIMEOUT_S = 170.0


def stop_group(proc: subprocess.Popen) -> None:
    """Stop every process of the child's session and wait for the child."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("ingest", "registry"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args()
    # a SIGTERM unwinds through the finally below, which stops the child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(PACKAGE):
        print(f"perfbench: engine package not found at {PACKAGE}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    result_path = os.path.join(work, "result.json")
    env = dict(
        os.environ,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(nproc),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=ROOT,
    )
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--size", args.size, "--nproc", str(nproc),
        "--work", work, "--result", result_path,
    ]
    # the child's output goes to our stderr: stdout carries only results
    proc = subprocess.Popen(cmd, env=env, cwd=work, stdout=sys.stderr,
                            start_new_session=True)
    peak, t0 = 0, time.monotonic()
    try:
        while proc.poll() is None and time.monotonic() - t0 < TIMEOUT_S:
            peak = max(peak, tree_rss(proc.pid))
            time.sleep(0.2)
    finally:
        stop_group(proc)

    try:
        with open(result_path) as f:
            res = json.load(f)
    except (OSError, ValueError):
        # crashed, killed or timed out before writing a result: the run
        # and its workload count as one failed operation
        why = "timed out" if time.monotonic() - t0 >= TIMEOUT_S else f"exit {proc.returncode}"
        res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}, "e2e": {},
               "named": {}, "failures": [f"workload process {why}"], "host": {}, "samples": {}}
    rss_gb = peak / 2**30
    res["e2e"]["peak_rss_gb"] = rss_gb
    res["named"]["peak_rss_gb"] = rss_gb
    res["named"]["ops_failed_ratio"] = res["failed"] / res["attempted"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        # every per-layer metric; 0 for a layer this workload does not call
        metrics = {m["name"]: {"value": float(res["metrics"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["e2e"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"] if m["name"] in res["e2e"]}
    for line in res["failures"]:
        print(f"perfbench: failed: {line}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "named": res["named"], "host": res["host"],
                      "end_to_end": res["e2e"], "samples": res["samples"]}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
