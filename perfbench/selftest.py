#!/usr/bin/env python3
"""Self-test of the benchmark (takes a few minutes).

    python3 perfbench/selftest.py

1. The input generators are deterministic: equal seeds give identical
   file digests, different seeds do not.
2. One pass of every workload at sf0.001, untraced and traced, prints
   every metric BENCHMARK.json names, each with its unit, and every traced
   operation's layer self times cover its wall time within 5%.
3. A deliberately wrong expected result counts as a failed operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import lake  # noqa: E402


def check_generators() -> None:
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        digests = {}
        for label, seed in (("a", 7), ("b", 7), ("c", 8)):
            lake.generate_raw_lake(os.path.join(tmp, f"lake-{label}"), seed, rows_per_month=500)
            digests[f"lake-{label}"] = lake.tree_digest(os.path.join(tmp, f"lake-{label}"))
            fixtures.write_tables(fixtures.build_tables(0.001, seed), os.path.join(tmp, f"fx-{label}"))
            digests[f"fx-{label}"] = lake.tree_digest(os.path.join(tmp, f"fx-{label}"))
    for kind in ("lake", "fx"):
        assert digests[f"{kind}-a"] == digests[f"{kind}-b"], f"{kind}: equal seeds, different files"
        assert digests[f"{kind}-a"] != digests[f"{kind}-c"], f"{kind}: different seeds, same files"
    print("generators: deterministic per seed")


def bench(*args: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--seconds", "0", "--sf", "0.001", *args]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = [line for line in proc.stdout.splitlines() if line.strip()]
    return json.loads(lines[-1]), json.loads(lines[-2])["run_record"]


def check_metrics(spec: dict) -> None:
    for wl in spec["workloads"]:
        for traced, section in ((0, "end_to_end"), (1, "per_layer")):
            result, record = bench("--workload", wl["name"], "--seed", "1", "--trace", str(traced))
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
            assert result["correct"] and result["failed"] == 0, (wl["name"], record["failures"])
            for m in spec[section]:
                got = result["metrics"].get(m["name"])
                assert got is not None, f"{wl['name']}: {m['name']} missing"
                assert got["unit"] == m["unit"], f"{wl['name']}: {m['name']} unit {got['unit']}"
                assert isinstance(got["value"], float), f"{wl['name']}: {m['name']} value {got['value']}"
            assert set(result["metrics"]) == {m["name"] for m in spec[section]}, result["metrics"].keys()
            if traced:
                gap = record["max_unaccounted_share"]
                assert gap <= 0.05, f"{wl['name']}: layer self times miss {gap:.1%} of an operation"
            print(f"{wl['name']} trace={traced}: {len(result['metrics'])} metrics with units, "
                  f"{result['attempted']} operations")


def check_wrong_expected() -> None:
    result, record = bench("--workload", "catalog", "--seed", "1", "--break-expected", "kpis")
    assert result["failed"] == 1 and not result["correct"], result
    assert result["metrics"]["ok_frac"]["value"] < 1.0, result
    assert list(record["failures"]) == ["kpis"], record["failures"]
    print("a wrong expected result counts as a failed operation")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    check_generators()
    check_wrong_expected()
    check_metrics(spec)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
