"""Per-layer metrics of a traced run, from its spans and Spark event log.

Layers are named after the package modules the benchmark calls into:

- ``session``: ``session.get_spark`` and the warm-up.
- ``queries``: the ``spark_fn`` call (``build`` span), with the Spark jobs
  it starts eagerly.
- ``plan``: forcing ``queryExecution().executedPlan()``.
- ``exec``: the Spark jobs of the action (catalog) or of the stage calls
  (lake): job busy time, task counts, bytes. ``deliver`` is the rest of
  ``toPandas()``: turning the collected result into a pandas frame.
- ``python``: SQL metrics of the Arrow / pandas-UDF operators.
- ``storage``: RDDs pinned by ``persist`` / ``localCheckpoint``, sampled
  at phase boundaries.
- ``pipelines``, ``ml``, ``io``: the lake stage sub-calls.
- ``trace``: the benchmark's own sampling and job labelling inside traced
  operations.

Every operation's wall time is split into layer self times; the split
is written per operation to the trace file for ``report.py``.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import EventLog, busy_seconds, write_trace

# (stage, sub-span) -> layer, for the lake pipeline's stage sub-calls.
LAKE_LAYERS = {
    ("etl", "build"): "pipelines",
    ("train", "fit"): "ml",
    ("score", "build"): "ml",
}
JOB_COUNTERS = (
    "stages", "tasks", "task_s", "gc_s", "scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "result_bytes", "task_failures",
)
PY_COUNTERS = ("py_sent", "py_returned", "py_eval_ms")
LAKE_STAGES = ("etl", "train", "score", "optimize")


def _clip(jobs: list[dict], span: dict) -> list[tuple[float, float]]:
    out = []
    for j in jobs:
        start, end = max(j["submit"], span["start"]), min(j.get("complete", span["end"]), span["end"])
        if end > start:
            out.append((start, end))
    return out


def _op_breakdown(tracer, op: dict, groups: dict, storage: dict) -> dict:
    """Layer self times and counters of one operation."""
    row = {"op": op["name"], "wall_s": op["dur"], "layers": defaultdict(float), "counts": defaultdict(float)}
    layers, counts = row["layers"], row["counts"]
    action_jobs = []
    for child in tracer.children(op["id"]):
        name, jobs = child["name"], groups.get(f"span{child['id']}", [])
        layers["trace"] += child["label_s"]
        for j in jobs:
            for k in PY_COUNTERS:
                counts[k] += j[k]
        if name == "trace":
            layers["trace"] += child["dur"]
            continue
        if name == "build" and op["name"] not in LAKE_STAGES:
            layers["queries"] += child["dur"]
            counts["build_jobs"] += len(jobs)
            continue
        action_jobs.extend(jobs)
        if name == "plan":
            layers["plan"] += child["dur"]
        elif name == "action":
            busy = busy_seconds(_clip(jobs, child))
            layers["exec"] += busy
            layers["deliver"] += child["dur"] - busy
            counts["exec_s"] += busy
        else:  # a lake stage sub-call
            layer = LAKE_LAYERS.get((op["name"], name), "io" if name == "write" else name)
            layers[layer] += child["dur"]
            counts["exec_s"] += busy_seconds(_clip(jobs, child))
            if name == "fit":
                counts["fit_s"] += child["dur"]
                counts["fit_jobs"] += len(jobs)
    counts["jobs"] += len(action_jobs)
    for j in action_jobs:
        for k in JOB_COUNTERS:
            counts[k] += j[k]
    counts["pinned_bytes_peak"], counts["pinned_bytes_after"], counts["pinned_rdds_after"] = storage.get(
        op["id"], (0, 0, 0)
    )
    row["unaccounted_share"] = (op["dur"] - sum(layers.values())) / op["dur"] if op["dur"] else 0.0
    return row


def _storage_by_op(tracer, samples) -> dict[int, tuple[int, int, int]]:
    """op span id -> (peak bytes, bytes at op end, RDDs at op end)."""
    parent = {s["id"]: s["parent"] for s in tracer.spans}
    kind = {s["id"]: s.get("kind") for s in tracer.spans}
    out: dict[int, tuple[int, int, int]] = {}
    for where, nbytes, rdds in samples:
        op = where
        while op is not None and kind[op] != "op":
            op = parent[op]
        if op is None:
            continue
        peak = max(out.get(op, (0, 0, 0))[0], nbytes)
        # The last sample of an operation is taken after its last phase ends.
        out[op] = (peak, nbytes, rdds)
    return out


def layer_metrics(tracer, pass_spans, log_dir, storage_samples, *, cores, setup, inputs, lake_out,
                  rows_out, peak_rss_mb, query_p50_s, query_tail_s, record, trace_path) -> dict:
    groups = EventLog(log_dir).by_group()
    storage = _storage_by_op(tracer, storage_samples)
    pass_ids = {p["id"] for p in pass_spans}
    ops = [s for s in tracer.spans if s.get("kind") == "op" and s["parent"] in pass_ids]
    rows = [_op_breakdown(tracer, op, groups, storage) for op in ops]
    n_pass = len(pass_spans)

    def total(key: str, part: str = "counts") -> float:
        return sum(r[part][key] for r in rows) / n_pass

    def stage_s(stage: str) -> float:
        return sum(r["wall_s"] for r in rows if r["op"] == stage) / n_pass

    setup_by_name = {s["name"]: s["dur"] for s in setup.spans}
    exec_s = total("exec_s")
    bytes_written, files_written = lake_out
    is_lake = any(r["op"] in LAKE_STAGES for r in rows)
    values = {
        "session.start_s": (setup_by_name["session.start"], "s"),
        "session.warmup_s": (setup_by_name["session.warmup"], "s"),
        "session.peak_rss_mb": (peak_rss_mb, "MB"),
        "queries.build_s": (total("queries", "layers"), "s"),
        "queries.build_jobs": (total("build_jobs"), "count"),
        "plan.plan_s": (total("plan", "layers"), "s"),
        "exec.exec_s": (exec_s, "s"),
        "exec.jobs": (total("jobs"), "count"),
        "exec.stages": (total("stages"), "count"),
        "exec.tasks": (total("tasks"), "count"),
        "exec.task_s": (total("task_s"), "s"),
        "exec.core_util": (total("task_s") / (exec_s * cores) if exec_s else 0.0, "ratio"),
        "exec.gc_s": (total("gc_s"), "s"),
        "exec.scan_bytes": (total("scan_bytes"), "B"),
        "exec.shuffle_read_bytes": (total("shuffle_read_bytes"), "B"),
        "exec.shuffle_write_bytes": (total("shuffle_write_bytes"), "B"),
        "exec.spill_bytes": (total("spill_bytes"), "B"),
        "exec.result_bytes": (total("result_bytes"), "B"),
        "exec.task_failures": (total("task_failures"), "count"),
        "deliver.deliver_s": (total("deliver", "layers"), "s"),
        "python.bytes_sent": (total("py_sent"), "B"),
        "python.bytes_returned": (total("py_returned"), "B"),
        "python.eval_s": (total("py_eval_ms") / 1000.0, "s"),
        "storage.pinned_bytes_peak": (max((r["counts"]["pinned_bytes_peak"] for r in rows), default=0), "B"),
        "storage.pinned_bytes_after": (rows[-1]["counts"]["pinned_bytes_after"] if rows else 0, "B"),
        "storage.pinned_rdds_after": (rows[-1]["counts"]["pinned_rdds_after"] if rows else 0, "count"),
        "pipelines.etl_s": (stage_s("etl"), "s"),
        "pipelines.rows_in": (inputs["rows"] if is_lake else 0, "count"),
        "pipelines.rows_out": (rows_out, "count"),
        "ml.fit_s": (total("fit_s"), "s"),
        "ml.fit_jobs": (total("fit_jobs"), "count"),
        "ml.score_s": (stage_s("score"), "s"),
        "io.write_s": (total("io", "layers"), "s"),
        "io.bytes_written": (bytes_written, "B"),
        "io.files_written": (files_written, "count"),
        "io.write_amp": (bytes_written / inputs["bytes"] if is_lake else 0.0, "ratio"),
        "trace.work_s": (statistics.median(p["dur"] for p in pass_spans), "s"),
        "trace.query_p50_s": (query_p50_s, "s"),
        "trace.query_tail_s": (query_tail_s, "s"),
        "trace.self_s": (total("trace", "layers"), "s"),
    }
    metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in values.items()}
    record["max_unaccounted_share"] = max((abs(r["unaccounted_share"]) for r in rows), default=0.0)
    write_trace(trace_path, {
        "record": record,
        "metrics": metrics,
        "ops": [{**r, "layers": dict(r["layers"]), "counts": dict(r["counts"])} for r in rows],
        "spans": setup.spans + tracer.spans,
    })
    return metrics
