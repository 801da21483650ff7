"""Spans, job labelling, storage sampling and the Spark event-log reader.

A span has a name, a parent, wall-clock bounds (epoch seconds, to line up
with event-log timestamps) and a monotonic duration. With tracing on,
entering a span labels the Spark jobs it starts with ``setJobGroup`` (the
innermost open span owns a job), so every job in the event log maps back
to exactly one span. The labelling calls fall just outside the span's
bounds; their time is kept as the span's ``label_s``. With tracing off, spans only time the call.

Spans stay in memory and are written out when the run ends. A span's
self time is its duration minus the part of that interval its child
spans cover.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL metrics of the Arrow / pandas-UDF operators, as named in task accumulables.
PY_METRICS = {
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_returned",
    "time to run Python workers": "py_eval_ms",
}


class Tracer:
    def __init__(self, sc=None, traced: bool = False):
        self.sc = sc
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "parent": parent["id"] if parent else None, "name": name, **attrs}
        self.spans.append(s)
        self._stack.append(s)
        t_label = time.perf_counter()
        if self.traced:
            self.sc.setJobGroup(f"span{s['id']}", name)
        s["start"], t0 = time.time(), time.perf_counter()
        s["label_s"] = t0 - t_label
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s["dur"] = t1 - t0
            s["end"] = s["start"] + s["dur"]
            self._stack.pop()
            if self.traced:
                if parent:
                    self.sc.setJobGroup(f"span{parent['id']}", parent["name"])
                else:
                    self.sc._jsc.clearJobGroup()
            s["label_s"] += time.perf_counter() - t1

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]


def pinned_storage(sc) -> tuple[int, int]:
    """(bytes, RDD count) currently pinned by persist / localCheckpoint."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos), len(infos)


class EventLog:
    """Per-job totals read from one Spark JSON event log (uncompressed)."""

    def __init__(self, log_dir: str):
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
        if len(paths) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        with open(paths[0], encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = self.jobs[ev["Job ID"]] = defaultdict(float)
                    job["group"] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job["submit"] = ev["Submission Time"] / 1000.0
                    job["stages"] = 0
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["complete"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    job = self.jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                    if job is not None:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = self.jobs.get(stage_job.get(ev["Stage ID"]))
                    if job is not None:
                        _add_task(job, ev)

    def by_group(self) -> dict[str | None, list[dict]]:
        out: dict[str | None, list[dict]] = defaultdict(list)
        for job in self.jobs.values():
            out[job["group"]].append(job)
        return out


def _add_task(job: dict, ev: dict) -> None:
    job["tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        job["task_failures"] += 1
    m = ev.get("Task Metrics") or {}
    job["task_s"] += m.get("Executor Run Time", 0) / 1000.0
    job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    job["result_bytes"] += m.get("Result Size", 0)
    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    job["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    job["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = PY_METRICS.get(acc.get("Name"))
        if key:
            job[key] += float(acc.get("Update") or 0)


def busy_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def write_trace(path: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(payload, f, indent=1, default=float)
    os.replace(tmp, path)
