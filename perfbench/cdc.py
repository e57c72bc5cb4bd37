"""Open-loop live CDC workload: the revenue view kept fresh beside PK reads.

Set-up preloads the tickets staging table with a base snapshot through
``PKTable.overwrite`` (snapshot-then-stream start), warms the lookup path
and starts both ``ContinuousRevenueView`` pipelines on a 1 s
processing-time trigger over file-replayed osb changelogs. The timed window
then runs two generator threads on a fixed schedule:

- a releaser that renames one epoch's tickets and movies files into the
  watched directories every 0.5 s (twice the reference arrival rate), and
- a reader that issues one 64-key ``tickets.lookup(...).collect()`` per
  second on a thread pool, so a slow lookup never delays the next one.
  Lookups run in their own FAIR scheduler pool, the way a serving
  deployment keeps reads from queueing behind whole write batches.

The pipelines start with the window rather than after warm-up epochs: one
pipeline batch costs as much as several seconds of the window, and a warm-up
batch per pipeline would not fit the benchmark's time budget. Their first
batch therefore also compiles the merge and refresh plans, in every run.

Epochs and lookups are timed from when they were due. An epoch is fresh
once the later of the two pipeline batches holding its files completes;
progress events give each batch's start, duration and input rows, and the
cumulative row counts map each released file to its batch.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

import numpy as np
import pyarrow.parquet as pq

import datagen
from checks import fold_tickets, tables_equal, TICKET_COLS
from telemetry import EventLog, InvalidRun, Outcome, dir_bytes, median, tail

from flink_cdc_fluss_quickstart_spark.sources import osb
from flink_cdc_fluss_quickstart_spark.streaming.analytics import (
    ContinuousRevenueView,
    revenue_aggregate,
)
from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable

RELEASE_EVERY_S = 0.5
LOOKUP_EVERY_S = 1.0
TRIGGER_S = 1.0
PROBE_KEYS = 64
LOOKUP_THREADS = 8
LOOKUP_POOL = "lookups"
DRAIN_TIMEOUT_S = 90.0
# a run whose generator threads fell further behind schedule than this is
# invalid: its latencies would describe the generator, not the system
GEN_LAG_LIMIT_S = 1.0


def _progress(query) -> list[dict]:
    """Data-carrying batches of a query: (start, duration, add_batch, rows)."""
    out = []
    for p in query.recentProgress:
        if p.numInputRows > 0:
            start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
                tzinfo=timezone.utc).timestamp()
            out.append({"start": start, "rows": p.numInputRows,
                        "dur": p.durationMs["triggerExecution"] / 1e3,
                        "add": p.durationMs.get("addBatch", 0) / 1e3})
    return out


def _completions(batches: list[dict], epoch_rows: list[int]) -> list[float]:
    """Completion time of the batch that held each epoch's last row (files
    enter batches in release order); inf for an epoch no batch held."""
    out, cum, consumed, b = [], 0, 0, 0
    for rows in epoch_rows:
        cum += rows
        while consumed < cum and b < len(batches):
            consumed += batches[b]["rows"]
            b += 1
        out.append(batches[b - 1]["start"] + batches[b - 1]["dur"]
                   if consumed >= cum else float("inf"))
    return out


def _rows_seen(query) -> int:
    return sum(p.numInputRows for p in query.recentProgress)


def run(ctx) -> Outcome:
    spark, tracer, sc = ctx.spark, ctx.tracer, ctx.spark.sparkContext
    n_epochs = int(round(ctx.seconds / RELEASE_EVERY_S))
    n_lookups = int(round(ctx.seconds / LOOKUP_EVERY_S))
    stage = os.path.join(ctx.work, "changelog")
    watch = {t: os.path.join(ctx.work, "watch", t) for t in ("tickets", "movies")}
    for d in watch.values():
        os.makedirs(d)
    with tracer.span("datagen.changelog"):
        osb.generate_workload(stage, epochs=n_epochs, seed=ctx.seed, tickets_per_epoch=5,
                              updates_per_epoch=7, moves_per_epoch=1)
        base = datagen.tickets_base(ctx.base_rows, 2 * n_epochs, ctx.seed)
        base_path = os.path.join(ctx.work, "base.parquet")
        pq.write_table(base, base_path)
    files = {t: sorted(os.listdir(os.path.join(stage, t))) for t in watch}
    epoch_rows = {t: [pq.ParquetFile(os.path.join(stage, t, f)).metadata.num_rows
                      for f in files[t]] for t in watch}
    epoch_ids = [pq.read_table(os.path.join(stage, "tickets", f),
                               columns=["op", "ticket_id"]).to_pydict()
                 for f in files["tickets"]]
    inserted = [[i for o, i in zip(e["op"], e["ticket_id"]) if o == "I"] for e in epoch_ids]

    tables = os.path.join(ctx.work, "pk")
    tickets = PKTable(spark, os.path.join(tables, "tickets"), keys=["ticket_id"],
                      order_by=["seq"])
    movies = PKTable(spark, os.path.join(tables, "movies"), keys=["movie_id"], order_by=["seq"])
    revenue = PKTable(spark, os.path.join(tables, "revenue"), keys=["movie_id"],
                      order_by=["seq"])
    with tracer.span("pk_table.overwrite", rows=ctx.base_rows):
        tickets.overwrite(spark.read.parquet(base_path))

    # probes: half base ids, half ids inserted by the last 8 epochs released
    # before the lookup is due; probes 0 and 1 warm the lookup path
    rng = np.random.default_rng(np.random.SeedSequence([ctx.seed, 2]))
    probes = []
    for j in range(n_lookups + 2):
        released = max(0, 2 * (j - 2))
        recent = [i for e in range(max(0, released - 8), released) for i in inserted[e]]
        base_ids = datagen.BASE_TICKET_ID + rng.choice(ctx.base_rows, PROBE_KEYS // 2,
                                                       replace=False)
        probes.append([int(i) for i in base_ids] + [int(i) for i in rng.choice(
            recent, min(len(recent), PROBE_KEYS // 2), replace=False)])

    lookups: list[dict] = []
    failed_lookups = 0
    lock = threading.Lock()

    def lookup(j: int, due: float) -> None:
        nonlocal failed_lookups
        ids = probes[j]
        sc.setLocalProperty("spark.scheduler.pool", LOOKUP_POOL)
        try:
            if ctx.trace:
                sc.setJobGroup(f"lookup-build:{j}", "lookup")
            t0 = time.time()
            df = tickets.lookup(spark.createDataFrame([(i,) for i in ids], "ticket_id long"))
            t1 = time.time()
            if ctx.trace:
                sc.setJobGroup(f"lookup-exec:{j}", "lookup")
            keys = [r["ticket_id"] for r in df.collect()]
            t2 = time.time()
        except Exception as exc:  # noqa: BLE001 -- a failed read is counted, not fatal
            ctx.log(f"lookup {j} failed: {exc!r}")
            with lock:
                failed_lookups += 1
            return
        tracer.add("pk_table.lookup", t0, t1, f"lookup{j}")
        tracer.add("exec.collect", t1, t2, f"lookup{j}")
        ok = len(keys) == len(set(keys)) and set(keys) <= set(ids)
        with lock:
            lookups.append({"latency": t2 - due, "build": t1 - t0, "action": t2 - t1})
            if not ok:
                failed_lookups += 1
                ctx.log(f"lookup {j}: keys not unique or not from the probe")

    with tracer.span("warmup.lookups"):
        for j in range(2):
            lookup(j, time.time())
    lookups.clear()
    # stream threads inherit the starting thread's scheduler pool and job group
    sc.setLocalProperty("spark.scheduler.pool", None)
    sc.setLocalProperty("spark.jobGroup.id", None)

    view = ContinuousRevenueView(spark, tickets, movies, revenue)
    trigger = {"processingTime": f"{TRIGGER_S:g} second"}
    with tracer.span("view.start_pipelines"):
        queries = {
            "movies": view.start_movies_pipeline(
                osb.changelog_stream(spark, watch["movies"], osb.MOVIES_SCHEMA,
                                     files_per_trigger=n_epochs),
                os.path.join(ctx.work, "ckpt", "movies"), trigger),
            "tickets": view.start_tickets_pipeline(
                osb.changelog_stream(spark, watch["tickets"], osb.TICKETS_SCHEMA,
                                     files_per_trigger=n_epochs),
                os.path.join(ctx.work, "ckpt", "tickets"), trigger),
        }

    def release(e: int) -> None:
        for t in watch:
            os.rename(os.path.join(stage, t, files[t][e]), os.path.join(watch[t], files[t][e]))

    def drained(timeout: float) -> bool:
        deadline = time.time() + timeout
        want = {t: sum(epoch_rows[t]) for t in watch}
        while time.time() < deadline:
            if all(_rows_seen(queries[t]) >= want[t] for t in watch):
                return True
            time.sleep(0.1)
        return False

    t_start = time.time() + 0.1
    release_due = [t_start + RELEASE_EVERY_S * k for k in range(n_epochs)]
    lookup_due = [t_start + 0.25 + LOOKUP_EVERY_S * j for j in range(n_lookups)]
    lags: list[float] = []
    bytes_before = dir_bytes(tables)

    def releaser() -> None:
        for k, due in enumerate(release_due):
            time.sleep(max(0.0, due - time.time()))
            lags.append(time.time() - due)
            release(k)
            tracer.add("gen.release", due, time.time(), f"epoch{k}")

    def reader(pool: ThreadPoolExecutor) -> list:
        futures = []
        for j, due in enumerate(lookup_due):
            time.sleep(max(0.0, due - time.time()))
            lags.append(time.time() - due)
            futures.append(pool.submit(lookup, j + 2, due))
        return futures

    with ThreadPoolExecutor(max_workers=LOOKUP_THREADS) as pool:
        rel = threading.Thread(target=releaser)
        rel.start()
        futures = reader(pool)
        rel.join()
        for f in futures:
            f.result()
    t_window_end = max(release_due[-1], lookup_due[-1]) + RELEASE_EVERY_S
    all_in = drained(DRAIN_TIMEOUT_S)
    t_drained = time.time()
    progress = {t: _progress(q) for t, q in queries.items()}
    run_ids = {str(q.runId) for q in queries.values()}
    for q in queries.values():
        q.stop()
    if not all_in:
        raise RuntimeError("pipelines did not absorb every released epoch")

    # freshness: scheduled release -> completion of the later of the two batches
    comp = {t: _completions(progress[t], epoch_rows[t]) for t in watch}
    fresh_at = [max(comp["tickets"][e], comp["movies"][e]) for e in range(n_epochs)]
    freshness = [at - due for at, due in zip(fresh_at, release_due)]
    window = [b for t in watch for b in progress[t] if b["start"] >= t_start]
    cycle = max(TRIGGER_S, median([b["dur"] for b in window]))
    t_last = release_due[-1]
    backlog = sum(1 for k, due in enumerate(release_due)
                  if due <= t_last - 3 * cycle and fresh_at[k] > t_last)
    for t in watch:
        for i, b in enumerate(progress[t]):
            tracer.add(f"streaming.{t}.batch", b["start"], b["start"] + b["dur"], None,
                       id=f"{t}-batch{i}", rows=b["rows"], add_batch=b["add"])

    # output checks, after the pipelines stopped
    failed_epochs = sum(1 for f in freshness if f == float("inf"))
    with tracer.span("check.tickets_fold"):
        got = tickets.snapshot().select(*TICKET_COLS).toArrow()
        tickets_ok = tables_equal(got, fold_tickets(base, watch["tickets"]))
    with tracer.span("check.view"):
        served = revenue.snapshot().drop("seq")
        oracle = revenue_aggregate(tickets.snapshot(), movies.snapshot())
        view_ok = (sorted(tuple(r) for r in served.select(*oracle.columns).collect())
                   == sorted(tuple(r) for r in oracle.collect()))
    if not tickets_ok:
        ctx.log("MISMATCH tickets staging table != latest-by-key fold of base + changelog")
    if not view_ok:
        ctx.log("MISMATCH served revenue view != revenue_aggregate(staging snapshots)")
    files_end = len(tickets.snapshot().inputFiles())
    bytes_written = dir_bytes(tables) - bytes_before

    lat = [x["latency"] for x in lookups]
    tail_pct, lookup_tail = tail(lat)
    fresh_pct, fresh_tail = tail(freshness)
    lag_max = max(lags)
    attempted = n_epochs + n_lookups + 2 + 2  # epochs, lookups and warm-up lookups, table checks
    failed = failed_epochs + failed_lookups + (not tickets_ok) + (not view_ok)
    if lag_max > GEN_LAG_LIMIT_S:
        raise InvalidRun(f"generator ran {lag_max:.3f} s behind schedule"
                          f" (limit {GEN_LAG_LIMIT_S} s)")

    def layers(log: EventLog) -> dict:
        jobs = log.jobs_in(t_start, t_window_end)
        stream_jobs = sum(1 for j in log.jobs_in(t_start, t_drained) if j["group"] in run_ids)
        lookup_jobs = sum(1 for j in jobs if (j["group"] or "").startswith("lookup-"))
        build_jobs = sum(1 for j in jobs if (j["group"] or "").startswith("lookup-build:"))
        seconds = t_window_end - t_start
        tickets_window = [b for b in progress["tickets"] if b["start"] >= t_start]
        return {
            **log.layer_split(t_start, t_window_end, ctx.cores, seconds),
            "plans.build_s": sum(x["build"] for x in lookups) / seconds,
            "plans.build_jobs": build_jobs / seconds,
            "exec.action_s": sum(x["action"] for x in lookups) / seconds,
            "streaming.tickets.add_batch_s": median([b["add"] for b in tickets_window]),
            "streaming.movies.add_batch_s": median(
                [b["add"] for b in progress["movies"] if b["start"] >= t_start]),
            "streaming.trigger_overhead_s": median([b["dur"] - b["add"] for b in window]),
            "streaming.epochs_per_batch": n_epochs / len(tickets_window),
            "streaming.jobs_per_batch": stream_jobs / len(window),
            "pk_table.lookup_jobs": lookup_jobs / max(1, len(lookups)),
            "pk_table.files_end": files_end,
            "pk_table.bytes_written": bytes_written,
            "gen.lag_max_s": lag_max,
        }

    return Outcome(
        setup_s=t_start - ctx.proc_start,
        e2e={
            "latency_p50_s": median(freshness),
            "latency_tail_s": fresh_tail,
        },
        detail={
            "freshness_p50_s": (median(freshness), "s"),
            "freshness_tail_s": (fresh_tail, "s"),
            "freshness_tail_pct": (fresh_pct, "%"),
            "epochs": (n_epochs, "count"),
            "lookup_p50_s": (median(lat), "s"),
            "lookup_tail_s": (lookup_tail, "s"),
            "lookup_tail_pct": (tail_pct, "%"),
            "lookups": (len(lat), "count"),
            "backlog_epochs_end": (backlog, "epochs"),
            "gen.lag_max_s": (lag_max, "s"),
            "pipeline_cycle_s": (cycle, "s"),
        },
        attempted=attempted,
        failed=failed,
        layers=layers,
    )
