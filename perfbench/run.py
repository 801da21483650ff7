#!/usr/bin/env python3
"""Benchmark of the PySpark analytics engine, one workload per invocation.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Run from the repository root. One process is one closed-loop client: it
starts a session from the production factory ``session.get_spark`` on
``local[nproc]``, warms it up, runs whole passes over the workload's
operations (seed-permuted) until ``--seconds`` have passed (at least one
pass), then checks every output against its expected result.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end set; with ``--trace 1`` the run also labels every Spark job
with the span that started it, writes a Spark event log, and reports the
per-layer set. The line before it is the run record (host load, versions,
input sizes). A traced run writes its spans to
``.perfbench_work/traces/<workload>-seed<seed>.json`` for ``report.py``.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root; the per-run directory is removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import logging  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

import layers  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, pinned_storage  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("catalog", "lake_pipeline")
NPROC = len(os.sched_getaffinity(0))


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="minimum measured time; whole passes")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1, help="fixture scale of the catalog workloads")
    p.add_argument("--break-expected", default=None, metavar="QUERY",
                   help="self-test: make this query's expected result wrong")
    return p.parse_args(argv)


# -- host ------------------------------------------------------------------

def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def _mem_total_mb() -> float:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class RssSampler(threading.Thread):
    """Peak summed RSS of the driver JVM and everything it spawned
    (Python daemon and workers), sampled from /proc every 0.2 s."""

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.peak_mb = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, _rss_mb(_descendants(self.jvm_pid)))
            if self._halt.wait(0.2):
                return

    def finish(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_mb


# -- session -----------------------------------------------------------------

def _isolate(run_dir: str) -> None:
    """Keep every file the run and its Spark processes write under run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _spark_conf(run_dir: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for its child processes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pids = _descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while any(os.path.exists(f"/proc/{p}") for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


# -- metrics -------------------------------------------------------------------

def tail_latency(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples) for the latency tail. A run holds 4-20
    operations, too few for any percentile above the median to have ten
    samples beyond it, so the tail is p90 by linear interpolation, which
    repeats across runs where the maximum does not."""
    return statistics.quantiles(values, n=10, method="inclusive")[-1], 90.0, len(values)


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


# -- the run -------------------------------------------------------------------

def make_workload(name: str, sf: float):
    cache = os.path.join(WORK, "cache")
    if name == "catalog":
        queries = workloads.CATALOG_SQL + list(workloads.CATALOG_OPERATORS)
        return workloads.CatalogWorkload(queries, cache, sf)
    return workloads.LakeWorkload()


def run(args: argparse.Namespace, run_dir: str) -> tuple[dict, dict]:
    load_start = os.getloadavg()[0]
    cpu_start = _cpu_times()
    _isolate(run_dir)
    import duckdb

    from proyecto_final_de_big_data_spark.queries import QUERIES  # noqa: F401  (registry import is set-up)
    from proyecto_final_de_big_data_spark.session import get_spark

    import_s = time.perf_counter() - T_PROCESS
    logging.disable(logging.WARNING)

    phases = {}
    t = time.perf_counter()
    wl = make_workload(args.workload, args.sf)
    inputs = wl.prepare(run_dir, args.seed)
    phases["inputs_s"] = time.perf_counter() - t
    t = time.perf_counter()
    wl.compute_expected()
    phases["expected_s"] = time.perf_counter() - t
    if args.break_expected:
        wl.break_expected(args.break_expected)

    traced = bool(args.trace)
    setup = Tracer()
    with setup.span("session.start") as s_start:
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{NPROC}]",
            extra_conf=_spark_conf(run_dir, traced),
        )
        spark.sparkContext.setLogLevel("ERROR")
    try:
        with setup.span("session.warmup") as s_warm:
            wl.warmup(spark)
        tracer = Tracer(spark.sparkContext, traced)
        pass_spans, outcomes, storage_samples, peak_rss_mb = _measure(
            spark, wl, tracer, args.seed, args.seconds, phases
        )
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "loadavg_1m_start": load_start,
            "nproc": NPROC,
            "ram_mb": _mem_total_mb(),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "duckdb": duckdb.__version__,
            "python": platform.python_version(),
            "input_rows": inputs["rows"],
            "input_bytes": inputs["bytes"],
            "passes": len(pass_spans),
            "pass_s": [p["dur"] for p in pass_spans],
            "phases": phases,
        }
        lake_out, rows_out = (0, 0), 0
        if args.workload == "lake_pipeline":
            lake_out, rows_out = wl.output_stats(), wl.pipeline.curated_rows
            record["outliers_kept"] = wl.pipeline.outliers_kept
    finally:
        _stop_spark(spark)
    record["cpu_steal_share"] = _steal_share(cpu_start, _cpu_times())
    setup_s = import_s + s_start["dur"] + s_warm["dur"]

    failed = [o for o in outcomes if o["error"]]
    latencies = [o["latency_s"] for o in outcomes]
    work_s = statistics.median(p["dur"] for p in pass_spans)
    tail, pct, n = tail_latency(latencies)
    record.update(query_tail_s=tail, query_tail_percentile=pct, query_samples=n,
                  op_latency_s={o["op"]: o["latency_s"] for o in outcomes},
                  failures={o["op"]: o["error"] for o in failed})
    if traced:
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        metrics = layers.layer_metrics(
            tracer, pass_spans, os.path.join(run_dir, "eventlog"), storage_samples,
            cores=NPROC, setup=setup, inputs=inputs, lake_out=lake_out, rows_out=rows_out,
            peak_rss_mb=peak_rss_mb, query_p50_s=statistics.median(latencies), query_tail_s=tail,
            record=record, trace_path=trace_path,
        )
        record["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        metrics = {
            "setup_s": _metric(setup_s, "s"),
            "work_s": _metric(work_s, "s"),
            "ok_frac": _metric(1.0 - len(failed) / len(outcomes), "ratio"),
        }
    result = {
        "correct": all(o["op"] in workloads.KNOWN_MISMATCHES for o in failed),
        "attempted": len(outcomes),
        "failed": len(failed),
        "metrics": metrics,
    }
    return result, record


def _measure(spark, wl, tracer, seed: int, seconds: float, phases: dict):
    """Whole passes over the operations until ``seconds`` have passed."""
    sc = spark.sparkContext
    storage_samples: list[tuple[int, int, int]] = []  # (enclosing span id, bytes, rdds)

    def sample_storage() -> None:
        if tracer.traced:
            with tracer.span("trace") as s:
                storage_samples.append((s["parent"], *pinned_storage(sc)))

    ops = wl.operations(seed)
    outcomes: list[dict] = []
    pass_spans: list[dict] = []
    sampler = RssSampler(_jvm_pid()) if tracer.traced else None
    if sampler:
        sampler.start()
    t_measure = time.perf_counter()
    phases["check_s"] = 0.0
    while True:
        results = []
        with tracer.span("pass") as ps:
            for name in ops:
                with tracer.span(name, kind="op") as op:
                    try:
                        out, err = wl.run(spark, name, tracer, sample_storage), None
                    except Exception as e:  # a failed operation is counted, not fatal
                        out, err = None, f"{type(e).__name__}: {e}"[:500]
                    sample_storage()
                results.append((name, op, out, err))
        pass_spans.append(ps)
        t = time.perf_counter()
        errors = wl.check_pass([(name, out, err) for name, _, out, err in results])
        outcomes.extend(
            {"op": name, "latency_s": op["dur"], "error": error}
            for (name, op, _, _), error in zip(results, errors)
        )
        phases["check_s"] += time.perf_counter() - t
        if time.perf_counter() - t_measure >= seconds:
            break
        wl.reset()
    return pass_spans, outcomes, storage_samples, sampler.finish() if sampler else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    # A terminated run still stops its Spark processes and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        result, record = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"run_record": record}, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
