"""The benchmark's own test: every workload once at the tiny ``smoke`` size.

    python3 perfbench/smoke.py

Runs ``run.py`` for each workload of BENCHMARK.json untraced on two seeds
and traced on one, and fails unless every run exits 0 with
``correct: true``, ``failed: 0`` and every metric BENCHMARK.json names
(end-to-end untraced, per-layer traced) present with a finite value, and
unless every per-layer metric the benchmark computes is non-zero on at
least one workload. Spark's own event-log counters (``spark.*``) may read
0: local mode never fetches shuffle blocks remotely, and nothing spills
at these sizes.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    last = p.stdout.strip().splitlines()[-1]
    res = json.loads(last)
    if p.returncode != 0 or not res["correct"] or res["failed"]:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: {last}")
    return res


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: [m["name"] for m in spec["end_to_end"]], 1: [m["name"] for m in spec["per_layer"]]}
    measured: set[str] = set()
    for w in (x["name"] for x in spec["workloads"]):
        for seed, trace in ((1, 0), (2, 0), (1, 1)):
            got = run(w, seed, trace)["metrics"]
            missing = [m for m in want[trace] if m not in got]
            bad = [m for m in want[trace] if m in got and not math.isfinite(got[m]["value"])]
            if missing or bad:
                raise SystemExit(f"{w} seed {seed} trace {trace}: missing {missing} bad {bad}")
            if trace:
                measured.update(m for m in want[1] if got[m]["value"])
            print(f"ok  {w} seed={seed} trace={trace}: {len(got)} metrics")
    unmeasured = [m for m in want[1] if m not in measured and not m.startswith("spark.")]
    if unmeasured:
        raise SystemExit(f"per-layer metrics no workload measured: {unmeasured}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
