"""Measurement helpers: spans, percentiles, peak memory and the event log.

Spans are recorded only in a traced run and only around the benchmark's
own calls into the engine; they are kept in memory and written once, at
the end. Task metrics come from Spark's uncompressed event log, which the
traced run turns on; job groups in that log attribute jobs to the calls
that launched them (a streaming query's jobs carry its run id as group).
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass


class InvalidRun(Exception):
    """The load generator itself fell behind; the run measures nothing."""


@dataclass
class Outcome:
    """What a workload measured. ``e2e`` and ``setup_s`` are the contract's
    end-to-end metrics; ``detail`` adds named figures (value, unit) printed
    beside them; ``layers`` turns the traced run's event log into the
    per-layer metrics."""

    setup_s: float
    e2e: dict[str, float]
    detail: dict[str, tuple[float, str]]
    attempted: int
    failed: int
    layers: Callable[["EventLog"], dict[str, float]]


class Tracer:
    """In-memory span log; every method is a no-op when disabled."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: str | None = None,
            **attrs) -> None:
        if self.enabled:
            with self._lock:
                self.spans.append({"name": name, "start": start, "end": end,
                                   "parent": parent, **attrs})

    @contextmanager
    def span(self, name: str, parent: str | None = None, **attrs):
        start = time.time()
        try:
            yield
        finally:
            self.add(name, start, time.time(), parent, **attrs)

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest nearest-rank percentile that has at
    least ten samples beyond it, but never below the upper median: with
    fewer than 21 samples no percentile above the median has ten beyond."""
    v = sorted(values)
    i = max(len(v) - 11, len(v) // 2)
    return 100.0 * (i + 1) / len(v), v[i]


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM, MB) of this process and of its direct
    children (the Spark JVM)."""
    me = os.getpid()
    pids = {"python": me}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == me:
                with open(f"/proc/{name}/comm") as f:
                    pids[f"{f.read().strip()}{name}"] = int(name)
    out = {}
    for label, pid in pids.items():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[label] = int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return out


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class EventLog:
    """Jobs, stages and task metrics parsed from an uncompressed event log."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: list[dict] = []           # {"time", "group"}
        self.stage_times: list[float] = []   # submission times
        self.tasks: list[dict] = []          # {"launch", "run_ms", ...}
        # Spark 4 writes a directory per application (events_* files plus
        # an empty appstatus marker)
        for root, _, files in os.walk(log_dir):
            for name in sorted(files):
                if name.startswith("events_"):
                    with open(os.path.join(root, name)) as f:
                        for line in f:
                            self._parse(line)

    def _parse(self, line: str) -> None:
        if '"SparkListenerJobStart"' in line:
            e = json.loads(line)
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            self.jobs.append({"time": e["Submission Time"] / 1e3, "group": group})
        elif '"SparkListenerStageSubmitted"' in line:
            info = json.loads(line)["Stage Info"]
            self.stage_times.append(info.get("Submission Time", 0) / 1e3)
        elif '"SparkListenerTaskEnd"' in line:
            e = json.loads(line)
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            self.tasks.append({
                "launch": e["Task Info"]["Launch Time"] / 1e3,
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "shuffle_write_bytes":
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "shuffle_read_bytes":
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                "spill_bytes": m.get("Disk Bytes Spilled", 0),
            })

    def jobs_in(self, t0: float, t1: float) -> list[dict]:
        return [j for j in self.jobs if t0 <= j["time"] < t1]

    def layer_split(self, t0: float, t1: float, cores: int, units: float) -> dict:
        """Per-unit task totals for work launched in [t0, t1)."""
        tasks = [t for t in self.tasks if t0 <= t["launch"] < t1]
        tot = defaultdict(float)
        for t in tasks:
            for k, v in t.items():
                if k != "launch":
                    tot[k] += v
        run_s = tot["run_ms"] / 1e3
        return {
            "spark.jobs": len(self.jobs_in(t0, t1)) / units,
            "spark.stages": sum(t0 <= t < t1 for t in self.stage_times) / units,
            "spark.tasks": len(tasks) / units,
            "exec.task_run_s": run_s / units,
            "exec.task_cpu_s": tot["cpu_ns"] / 1e9 / units,
            "exec.task_gc_s": tot["gc_ms"] / 1e3 / units,
            "exec.cpu_share": tot["cpu_ns"] / 1e9 / run_s if run_s else 0.0,
            "exec.slot_idle_share": 1.0 - run_s / ((t1 - t0) * cores),
            "scan.input_bytes": tot["input_bytes"] / units,
            "shuffle.write_bytes": tot["shuffle_write_bytes"] / units,
            "shuffle.read_bytes": tot["shuffle_read_bytes"] / units,
            "shuffle.fetch_wait_s": tot["fetch_wait_ms"] / 1e3 / units,
            "spill.disk_bytes": tot["spill_bytes"] / units,
        }
