"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads: sql_analytics and corpus_loops
(closed-loop registry query passes, see batch.py) and cdc_revenue_live
(open-loop CDC freshness beside point lookups, see cdc.py). Inputs are
generated from --seed; every file the run writes stays under .perfbench/
in the repository root. The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1, which also turns on spans and Spark's event log). Lines
before it give the figures behind those metrics, with units. The exit code
is 1 when an output check fails, 2 on bad arguments or a missing engine,
and 3 when the run is invalid because the load generator fell behind.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sql_analytics", "corpus_loops", "cdc_revenue_live")


@dataclass
class Context:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    sf: float
    base_rows: int
    trace: bool
    cores: int
    proc_start: float

    @staticmethod
    def log(msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="scale factor of the batch workloads' tables")
    ap.add_argument("--base-rows", type=int, default=250_000,
                    help="tickets preloaded before the CDC stream starts")
    return ap.parse_args(argv)


def _environment(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work`` and
    pass the session settings that must exist before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            # Spark 4 defaults to zstd, which this Python cannot decompress
            "spark.eventLog.compress": "false",
        })
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits when stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _fmt(name: str, value: float, unit: str) -> str:
    return f"{name} = {value:.6g} {unit}"


def main(argv: list[str]) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import flink_cdc_fluss_quickstart_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import telemetry
    from telemetry import EventLog, InvalidRun, Tracer

    proc_start = telemetry.process_start_time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    _environment(work, bool(args.trace))
    from flink_cdc_fluss_quickstart_spark.session import get_spark

    tracer = Tracer(bool(args.trace))
    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench", master=f"local[{cores}]")
            spark.sparkContext.setLogLevel("ERROR")
        ctx = Context(spark, tracer, work, args.seed, args.seconds, args.sf, args.base_rows,
                      bool(args.trace), cores, proc_start)
        if args.workload == "cdc_revenue_live":
            import cdc
            out = cdc.run(ctx)
        else:
            import batch
            out = batch.run(ctx, batch.SQL_ANALYTICS if args.workload == "sql_analytics"
                            else batch.CORPUS_LOOPS)
        peak = telemetry.peak_rss_mb()
        _stop(spark)
        spark = None
        e2e = {"setup_s": out.setup_s, **out.e2e}
        out.detail.update({f"peak_rss_mb.{k}": (v, "MB") for k, v in peak.items()})
        layers = {}
        if args.trace:
            layers = {**out.layers(EventLog(os.path.join(work, "eventlog"))),
                      "peak_rss_mb": sum(peak.values())}
    except InvalidRun as exc:
        print(f"perfbench: invalid run: {exc}", file=sys.stderr)
        return 3
    finally:
        if spark is not None:
            try:
                _stop(spark)
            except Exception:  # noqa: BLE001 -- already failing; report the first error
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds:g}"
          f" trace={args.trace} cores={cores} sf={args.sf:g} base_rows={args.base_rows}")
    for name, value in e2e.items():
        print("# " + _fmt(name, value, units.get(name, "")))
    for name, (value, unit) in out.detail.items():
        print("# " + _fmt(name, value, unit))
    for name, value in layers.items():
        print("# " + _fmt(name, value, units.get(name, "")))
    failed_ratio = out.failed / out.attempted
    print("# " + _fmt("failed_ops_ratio", failed_ratio, f"ratio of {out.attempted}"))
    if args.trace:
        tracer.write(os.path.join(ROOT, ".perfbench", "trace",
                                  f"{args.workload}-seed{args.seed}.spans.jsonl"))
    _report_overhead(args, e2e, units)
    if args.trace:
        # a layer this workload never enters (the streaming layer of a batch
        # workload) reads zero
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0 if out.failed == 0 else 1


def _report_overhead(args, e2e: dict, units: dict) -> None:
    """Keep this run's end-to-end figures and, once both the traced and the
    untraced run of a workload and seed exist, print the tracing overhead."""
    res_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(res_dir, exist_ok=True)
    key = f"{args.workload}-seed{args.seed}-sec{args.seconds:g}"
    with open(os.path.join(res_dir, f"{key}-trace{args.trace}.json"), "w") as f:
        json.dump(e2e, f)
    other = os.path.join(res_dir, f"{key}-trace{1 - args.trace}.json")
    if not os.path.exists(other):
        return
    with open(other) as f:
        pair = {args.trace: e2e, 1 - args.trace: json.load(f)}
    for name in e2e:
        if name in pair[0] and name in pair[1]:
            diff = pair[1][name] - pair[0][name]
            print("# tracing overhead " + _fmt(name, diff, units.get(name, ""))
                  + f" ({diff / pair[0][name]:+.1%})")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
