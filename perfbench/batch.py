"""Closed-loop batch workloads: one client running registry queries in passes.

Each pass runs the workload's query set in a seed-shuffled order, each query
as ``QuerySpec.builder(spark, sf_dir)`` (the plan build, including any eager
jobs a builder runs) followed by ``.toArrow()`` (the action, which brings
the result to the client). Set-up runs one untimed pass that warms the JVM
and doubles as the output check: every result is compared with the
registry's DuckDB oracle. Timed passes then check each result's row count
against the oracle's. Using the same action in both keeps the check from
needing a second, differently planned execution.
"""

from __future__ import annotations

import os
import random
import time

import datagen
from checks import Oracle, digest
from telemetry import EventLog, Outcome, median, tail

from flink_cdc_fluss_quickstart_spark.plans.registry import all_specs

SQL_ANALYTICS = (
    "revenue_analytics", "q1_pricing_summary", "q3_top_revenue_orders",
    "q7_nation_trade_flows", "q17_below_avg_quantity_revenue", "q2_min_cost_supplier",
    "q20_part_heavy_suppliers", "upsert_latest_snapshot", "event_time_tumbling_hourly",
    "range_join_price_bands", "betting_tickets_analytics",
)
CORPUS_LOOPS = (
    "logreg_quality_score", "bpe_encode_tokens", "semantic_dedup_prune",
    "embedding_ivfpq_topk", "leakage_safe_split_assign", "minhash_lsh_pairs",
)


def run(ctx, names: tuple[str, ...]) -> Outcome:
    spark, tracer = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    with tracer.span("datagen.write_tables"):
        sf_dir = datagen.write_tables(os.path.join(ctx.work, "tables"), ctx.sf, ctx.seed)
    specs = all_specs()
    oracle = Oracle(sf_dir, os.path.join(ctx.work, "duckdb"))
    expected_rows: dict[str, int] = {}
    failed = 0
    check_s = 0.0
    for name in names:
        with tracer.span("warmup.query", query=name):
            result = specs[name].builder(spark, sf_dir).toArrow()
        t = time.time()
        got = digest([tuple(r.values()) for r in result.to_pylist()], result.column_names)
        want = oracle.digest(specs[name].oracle) if specs[name].oracle else None
        expected_rows[name] = want[0] if want else got[0]
        if want is not None and got != want:
            failed += 1
            ctx.log(f"MISMATCH {name}: spark {got} oracle {want}")
        check_s += time.time() - t
        spark.catalog.clearCache()
    oracle.close()

    rng = random.Random(ctx.seed)
    walls: list[float] = []
    passes: list[float] = []
    build_s = action_s = lag_max = 0.0
    t_start = time.time()
    last_end = t_start
    # a pass starts only if a pass of median length still fits the window,
    # so a run lasts about --seconds however slow the host is
    while not passes or time.time() - t_start + median(passes) <= ctx.seconds:
        p = len(passes)
        pass_start = time.time()
        for name in rng.sample(names, len(names)):
            if ctx.trace:
                sc.setJobGroup(f"build:{p}:{name}", name)
            t0 = time.time()
            lag_max = max(lag_max, t0 - last_end)
            df = specs[name].builder(spark, sf_dir)
            t1 = time.time()
            if ctx.trace:
                sc.setJobGroup(f"exec:{p}:{name}", name)
            n = df.toArrow().num_rows
            t2 = time.time()
            tracer.add("plans.build", t0, t1, f"pass{p}", query=name)
            tracer.add("exec.to_arrow", t1, t2, f"pass{p}", query=name)
            walls.append(t2 - t0)
            build_s += t1 - t0
            action_s += t2 - t1
            if n != expected_rows[name]:
                failed += 1
                ctx.log(f"MISMATCH {name} pass {p}: {n} rows, oracle {expected_rows[name]}")
            spark.catalog.clearCache()
            last_end = time.time()
        passes.append(last_end - pass_start)
        tracer.add("pass", pass_start, last_end, None, id=f"pass{p}")
    t_end = time.time()
    if ctx.trace:
        sc.setLocalProperty("spark.jobGroup.id", None)

    tail_pct, tail_s = tail(walls)
    n_pass = len(passes)
    attempted = len(names) + len(walls)

    def layers(log: EventLog) -> dict:
        build_jobs = sum(1 for j in log.jobs_in(t_start, t_end)
                         if (j["group"] or "").startswith("build:"))
        return {
            **log.layer_split(t_start, t_end, ctx.cores, n_pass),
            "plans.build_s": build_s / n_pass,
            "plans.build_jobs": build_jobs / n_pass,
            "exec.action_s": action_s / n_pass,
            "gen.lag_max_s": lag_max,
        }

    return Outcome(
        setup_s=t_start - ctx.proc_start - check_s,
        e2e={
            "latency_p50_s": median(walls),
            "latency_tail_s": tail_s,
        },
        detail={
            "batch_pass_s": (median(passes), "s"),
            "passes": (n_pass, "count"),
            "query_wall_p50_s": (median(walls), "s"),
            "query_wall_tail_s": (tail_s, "s"),
            "query_wall_tail_pct": (tail_pct, "%"),
            "query_runs": (len(walls), "count"),
            "oracle_check_s": (check_s, "s"),
        },
        attempted=attempted,
        failed=failed,
        layers=layers,
    )
