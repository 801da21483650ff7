#!/usr/bin/env python3
"""Layer report of a traced benchmark run.

    python3 perfbench/report.py .perfbench_work/traces/catalog-seed1.json \
        [--untraced RESULT.json ...]

Prints each layer's self time summed over the traced pass, with its share
of the pass, then the ten operations that spent the most in each layer.
Every operation's layer self times should add up to its wall time; the
worst gap is printed. ``--untraced`` takes files holding the last stdout
line of untraced runs of the same workload; the tracing overhead is then
the traced ``work_s`` minus their median ``work_s``.
"""

from __future__ import annotations

import argparse
import json
import statistics
from collections import defaultdict

LAYER_ORDER = ("queries", "plan", "exec", "deliver", "pipelines", "ml", "io", "trace")


def load_untraced_work(paths: list[str]) -> list[float]:
    out = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            last = [line for line in f if line.strip()][-1]
        out.append(json.loads(last)["metrics"]["work_s"]["value"])
    return out


def render(trace: dict, untraced_work: list[float], top: int = 10) -> str:
    ops = trace["ops"]
    record = trace["record"]
    work = trace["metrics"]["trace.work_s"]["value"]
    passes = record.get("passes", 1)
    totals: dict[str, float] = defaultdict(float)
    for op in ops:
        for layer, secs in op["layers"].items():
            totals[layer] += secs / passes
    lines = [
        f"workload {record['workload']}  seed {record['seed']}  nproc {record['nproc']}  "
        f"traced work_s {work:.3f}  operations {len(ops)}",
        f"layer self time (per pass; share of traced work_s):",
    ]
    for layer in sorted(totals, key=lambda k: LAYER_ORDER.index(k) if k in LAYER_ORDER else 99):
        lines.append(f"  {layer:10s} {totals[layer]:9.3f} s  {100 * totals[layer] / work:5.1f}%")
    lines.append(f"  {'(sum)':10s} {sum(totals.values()):9.3f} s  "
                 f"worst per-operation gap {100 * record['max_unaccounted_share']:.2f}% of its wall time")
    if untraced_work:
        base = statistics.median(untraced_work)
        lines.append(f"tracing overhead: {work - base:+.3f} s ({100 * (work - base) / base:+.1f}%) "
                     f"vs median untraced work_s {base:.3f} s over {len(untraced_work)} runs")
    for layer in sorted(totals, key=lambda k: -totals[k]):
        ranked = sorted(ops, key=lambda o: -o["layers"].get(layer, 0.0))[:top]
        lines.append(f"top {len(ranked)} operations by {layer}:")
        for op in ranked:
            if op["layers"].get(layer, 0.0) <= 0:
                break
            c = op["counts"]
            lines.append(
                f"  {op['op']:38s} {op['layers'][layer]:8.3f} s  wall {op['wall_s']:7.3f} s  "
                f"build_jobs {int(c.get('build_jobs', 0)):3d}  jobs {int(c.get('jobs', 0)):3d}  "
                f"tasks {int(c.get('tasks', 0)):5d}  pinned_peak {int(c.get('pinned_bytes_peak', 0)):>10d} B"
            )
    return "\n".join(lines)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("trace", help="trace file written by a --trace 1 run")
    p.add_argument("--untraced", nargs="*", default=[], help="stdout files of untraced runs")
    args = p.parse_args(argv)
    with open(args.trace, encoding="utf-8") as f:
        trace = json.load(f)
    print(render(trace, load_untraced_work(args.untraced)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
