"""Smoke test of the benchmark at tiny size.

    python3 perfbench/smoke_test.py

Runs every workload once untraced and once traced at sf0.001 with a
10,000-row tickets base and a few seconds of load, and checks that each run
exits 0, passes its output checks and emits every metric BENCHMARK.json
names. It also checks that a directory holding only the benchmark (no
engine) makes the benchmark fail without printing a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402

TINY = ["--seed", "7", "--seconds", "3", "--sf", "0.001", "--base-rows", "10000"]


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def _check_result(workload: str, trace: int, spec: dict) -> list[str]:
    proc = _run(ROOT, "--workload", workload, "--trace", str(trace), *TINY)
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"{where}: correct={result['correct']} failed={result['failed']}"
                      f" attempted={result['attempted']}")
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    if list(result["metrics"]) != [m["name"] for m in wanted]:
        errors.append(f"{where}: metric names {list(result['metrics'])}")
    for m in wanted:
        got = result["metrics"].get(m["name"], {})
        value = got.get("value")
        if got.get("unit") != m["unit"] or not isinstance(value, (int, float)) \
                or not math.isfinite(value) or (not trace and value <= 0):
            errors.append(f"{where}: {m['name']} = {got}")
    return errors


def _check_without_engine() -> list[str]:
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, "--workload", WORKLOADS[0], "--trace", "0", *TINY)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or '"metrics"' in proc.stdout:
        return [f"without the engine: exit {proc.returncode}, stdout {proc.stdout[-300:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = _check_without_engine()
    for workload in WORKLOADS:
        for trace in (0, 1):
            errors += _check_result(workload, trace, spec)
            print(f"{workload} trace={trace}: done", flush=True)
    for e in errors:
        print("FAIL", e)
    print("smoke test", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
