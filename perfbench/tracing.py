"""In-memory spans around the benchmark's calls into the engine, plus the
Spark event-log counters of a traced run.

A span is ``(name, start, end, parent, run_id)``; the name's first dotted
part is the engine module the call enters (``session``, ``sources``,
``operators``, ``functions``, ``plans``, ``contract``). Spans stay in
memory and are written once, when the run ends. Self time is a span's
duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid

MODULES = ("session", "sources", "operators", "functions", "plans", "contract")


class Tracer:
    """Span recorder; a disabled tracer records nothing and costs one
    attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> list[float]:
        """Self time of every span (children of one parent never overlap:
        spans are opened on the benchmark's single calling thread)."""
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def module_self_s(self) -> dict[str, float]:
        out = {m: 0.0 for m in MODULES}
        for s, t in zip(self.spans, self.self_times()):
            mod = s["name"].split(".", 1)[0]
            if mod in out:
                out[mod] += t
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f)


# SQL metric names of the Python-evaluation nodes (MapInPandas,
# ArrowEvalPython, ...): PythonSQLMetrics in Spark 4
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"

COUNTERS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_fetch_wait_s", "spill_bytes",
    "python_bytes_sent", "python_bytes_returned",
)


def read_event_log(log_dir: str) -> list[dict]:
    """Per-job records from the (single) event log under ``log_dir``:
    submit time (s), job group, scheduler pool, and the summed task and
    Python-node counters of the job's stages."""
    files = sorted(os.path.join(d, f) for d, _s, fs in os.walk(log_dir) for f in fs
                   if not f.startswith("."))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_acc: dict[int, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "pool": props.get("spark.scheduler.pool"),
                        **{c: 0 for c in COUNTERS},
                        "jobs": 1,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    job["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info") or {}
                    acc = stage_acc.setdefault(info.get("Stage ID"), {})
                    for a in info.get("Accumulables", []):
                        if a.get("Name") in (_PY_SENT, _PY_RETURNED):
                            acc[a["Name"]] = acc.get(a["Name"], 0) + int(a.get("Value", 0))
    for sid, acc in stage_acc.items():
        job = jobs.get(stage_job.get(sid))
        if job is not None:
            job["python_bytes_sent"] += acc.get(_PY_SENT, 0)
            job["python_bytes_returned"] += acc.get(_PY_RETURNED, 0)
    return list(jobs.values())


def sum_counters(jobs: list[dict]) -> dict[str, float]:
    return {c: sum(j[c] for j in jobs) for c in COUNTERS}


def jobs_between(jobs: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    """Jobs submitted inside any of the wall-clock windows."""
    return [j for j in jobs if any(a <= j["submit"] <= b for a, b in windows)]
