"""Spans recorded around calls into the program's layers, and the Spark
event-log counters attributed to them.

A span is (name, parent, start, end).  Spans live in memory and are written
out once, when the run ends.  Every span tags the Spark jobs it submits with
``setJobGroup(name)``; jobs submitted from threads the program starts itself
(build_kg's write pool) carry no group and are attributed to the innermost
span whose wall-clock window contains their submission time.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: per-span engine counters, named ``<span>.<counter>`` in the metrics
COUNTERS = (
    "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "gc_s", "executor_cpu_s",
)
#: (counter, scale, path into a task-end event's "Task Metrics")
_TASK_METRICS = (
    ("shuffle_write_bytes", 1, ("Shuffle Write Metrics", "Shuffle Bytes Written")),
    ("shuffle_read_bytes", 1, ("Shuffle Read Metrics", "Remote Bytes Read")),
    ("shuffle_read_bytes", 1, ("Shuffle Read Metrics", "Local Bytes Read")),
    ("spill_bytes", 1, ("Memory Bytes Spilled",)),
    ("spill_bytes", 1, ("Disk Bytes Spilled",)),
    ("gc_s", 1e-3, ("JVM GC Time",)),
    ("executor_cpu_s", 1e-9, ("Executor CPU Time",)),
)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1]["name"] if self._open else None
        rec = {"name": name, "parent": parent, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._open.pop()
            group = parent or "untraced"
            self.sc.setJobGroup(group, group)

    def child(self, parent: dict, name: str, seconds: float) -> None:
        """A span known only by its duration (build_kg's returned phases)."""
        self.spans.append(
            {"name": name, "parent": parent["name"], "start": None,
             "end": None, "seconds": seconds}
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def read_event_log(path: str) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stage counters) from an uncompressed, unrolled event log.
    Only job starts, task ends and stage completions are decoded; every
    other event line (plans, SQL metrics) is skipped by its prefix.  Task
    counters come from each task end's "Task Metrics", which the log keeps
    even with spark.eventLog.includeTaskMetricsAccumulators off."""
    jobs: list[dict] = []
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, dict.fromkeys(COUNTERS, 0.0))

    with open(path) as f:
        for line in f:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                e = json.loads(line)
                jid = e["Job ID"]
                jobs.append({
                    "job": jid,
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    "submitted": e["Submission Time"] / 1000.0,
                })
                for s in e["Stage IDs"]:
                    # the first job listing a stage runs it; later jobs
                    # list it again only as a skipped, reused stage
                    stage_job.setdefault(s, jid)
            elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                e = json.loads(line)
                c = stage(e["Stage ID"])
                metrics = e.get("Task Metrics") or {}
                for name, scale, keys in _TASK_METRICS:
                    v = metrics
                    for k in keys:
                        v = v.get(k, 0) if isinstance(v, dict) else 0
                    c[name] += float(v) * scale
            elif line.startswith('{"Event":"SparkListenerStageCompleted"'):
                info = json.loads(line)["Stage Info"]
                c = stage(info["Stage ID"])
                c["stages"] = 1
                c["tasks"] = info["Number of Tasks"]
    for sid, c in stages.items():
        c["job"] = stage_job.get(sid)
    return jobs, stages


def span_counters(spans: list[dict], path: str) -> dict[str, dict]:
    """Engine counters summed per span name."""
    jobs, stages = read_event_log(path)
    timed = [s for s in spans if s["start"] is not None]
    names = {s["name"] for s in timed}
    job_span: dict[int, str] = {}
    for j in jobs:
        if j["group"] in names:
            job_span[j["job"]] = j["group"]
            continue
        inside = [s for s in timed if s["start"] <= j["submitted"] <= s["end"]]
        if inside:
            job_span[j["job"]] = max(inside, key=lambda s: s["start"])["name"]
    out: dict[str, dict] = {}
    for c in stages.values():
        name = job_span.get(c["job"])
        if name is None:
            continue
        acc = out.setdefault(name, dict.fromkeys(COUNTERS, 0.0))
        for k in COUNTERS:
            acc[k] += c[k]
    return out
