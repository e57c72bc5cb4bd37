"""Continuously-maintained revenue materialized view (the reference's hard
core: revenue-analytics.sql:46-65 + SURVEY.md A11/J1).

Semantics to match (Flink retraction machinery): the view equals, at every
point, the batch aggregation of the CURRENT staging snapshots -- upstream
UPDATEs retract from old groups, movie-title edits rewrite previously-emitted
rows, deletes can empty a group entirely.

Spark-first realization: per micro-batch, (1) merge the changelog batch into
the staging PK table, (2) re-aggregate ONLY the affected movie_ids from the
staging snapshots, (3) merge the fresh rows into the serving PK table,
emitting deletes for groups that vanished. Exact (not approximate
incremental), and scale-correct: work per batch is proportional to the
affected keys' data, not the table size; the affected-key set joins
broadcast-side against the big staging table (left-semi, no shuffle of the
fact side beyond its bucket pruning).

Single-writer discipline per PK table (the reference equivalently runs its
analytics INSERT at parallelism 1, flink-cdc/docker-compose.yaml:13).
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from flink_cdc_fluss_quickstart_spark.streaming.pk_table import PKTable, _commit_lock

# movie_revenue_realtime schema (revenue-analytics.sql:23-43)
REVENUE_STATUSES = ("scheduled", "live", "finished")


def affected_keys(batch_df: DataFrame, key: str, out_key: str | None = None) -> DataFrame:
    """The group keys a changelog micro-batch touches: every after-image key
    UNION every before-image key (when the envelope carries `before`, the
    full pre-update row -- REPLICA IDENTITY FULL parity, osb.py envelope).

    The before side is what makes a group-key-MOVING update correct: a
    ticket exchanged from movie A to movie B arrives as one U row with
    after.movie_id=B and before.movie_id=A, and BOTH aggregates must
    refresh. An after-image-only frame would leave A stale until next
    touched.
    """
    out_key = out_key or key
    keys = batch_df.select(F.col(key).alias(out_key))
    if "before" in batch_df.columns:
        keys = keys.unionByName(
            batch_df.select(F.col(f"before.{key}").alias(out_key)).where(
                F.col(out_key).isNotNull()
            )
        )
    return keys


def strip_before(batch_df: DataFrame) -> DataFrame:
    """Drop the before-image before a staging merge: the PK snapshot is
    after-images only (before is refresh-scoping metadata, not state)."""
    return batch_df.drop("before") if "before" in batch_df.columns else batch_df


def revenue_aggregate(tickets: DataFrame, movies: DataFrame) -> DataFrame:
    """The batch form of the analytics query -- the single source of truth
    shared by the streaming refresh and the test oracle.

    Matches revenue-analytics.sql:46-65 column-for-column, including the
    DECIMAL(15,2)/(10,2) result types the reference's DDL pins.
    """
    t = tickets.filter(F.col("purchased_at").isNotNull())
    m = movies.select("movie_id", "title", "start_date", "duration_minutes")
    joined = t.join(m, "movie_id")
    zero = F.lit(0).cast("decimal(10,2)")
    status_counts = [
        F.sum(F.when(F.col("status") == s, 1).otherwise(0)).alias(f"{s}_tickets")
        for s in REVENUE_STATUSES
    ]
    status_revs = [
        F.sum(F.when(F.col("status") == s, F.col("cost")).otherwise(zero))
        .cast("decimal(15,2)")
        .alias(f"{s}_revenue")
        for s in REVENUE_STATUSES
    ]
    return joined.groupBy("movie_id", "title", "start_date", "duration_minutes").agg(
        F.sum("cost").cast("decimal(15,2)").alias("total_revenue"),
        F.count(F.lit(1)).alias("ticket_count"),
        F.avg("cost").cast("decimal(10,2)").alias("avg_ticket_price"),
        *status_counts,
        *status_revs,
        F.max("purchased_at").alias("last_ticket_purchased"),
    ).select(
        "movie_id",
        F.col("title").alias("movie_title"),
        "total_revenue",
        "ticket_count",
        "avg_ticket_price",
        "scheduled_tickets",
        "live_tickets",
        "finished_tickets",
        "scheduled_revenue",
        "live_revenue",
        "finished_revenue",
        "start_date",
        "duration_minutes",
        "last_ticket_purchased",
    )


class ContinuousRevenueView:
    """Maintains `movie_revenue_realtime` over ticket/movie staging tables."""

    def __init__(self, spark: SparkSession, tickets: PKTable, movies: PKTable,
                 revenue: PKTable) -> None:
        self.spark = spark
        self.tickets = tickets
        self.movies = movies
        self.revenue = revenue

    def refresh(self, affected: DataFrame, batch_id: int, writer_id: str) -> None:
        """Re-aggregate the given movie_ids from current snapshots and merge
        into the serving table (upserts + deletes for emptied groups)."""
        if self.revenue.last_batch_id(writer_id) >= batch_id:
            # crash-replayed batch: the final merge would no-op on its txn
            # marker anyway -- skip the eager re-aggregation jobs it guards
            return
        affected = affected.select("movie_id").distinct().localCheckpoint(eager=True)
        t = self.tickets.snapshot()
        m = self.movies.snapshot()
        if t is None or m is None:
            fresh = None
        else:
            scoped = t.join(F.broadcast(affected), "movie_id", "left_semi")
            fresh = revenue_aggregate(scoped, m).localCheckpoint(eager=True)

        if fresh is not None:
            upserts = fresh.withColumn("op", F.lit("U"))
            gone = affected.join(fresh.select("movie_id"), "movie_id", "left_anti")
        else:
            upserts = None
            gone = affected
        # deletes need the full schema; pad with typed nulls
        if upserts is not None:
            pad_cols = [
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in upserts.schema.fields
                if f.name not in ("movie_id", "op")
            ]
            deletes = gone.select("movie_id", *pad_cols).withColumn("op", F.lit("D"))
            changes = upserts.unionByName(deletes)
        else:
            # a staging side is EMPTY (every row deleted), so every affected
            # group leaves the view -- the deletes must still be merged or
            # the serving table keeps stale aggregates forever ("deletes can
            # empty a group entirely" is this module's contract). Pad the D
            # rows from the SERVING schema; if the serving table has never
            # materialized either, there is truly nothing to retract.
            served = self.revenue.snapshot()
            if served is None:
                return
            pad_cols = [
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in served.schema.fields
                if f.name not in ("movie_id", "op", "seq")
            ]
            changes = gone.select("movie_id", *pad_cols).withColumn("op", F.lit("D"))
        changes = changes.withColumn("seq", F.lit(batch_id).cast("long"))
        self.revenue.merge(changes, batch_id=batch_id, writer_id=writer_id)

    # -- streaming entry points ------------------------------------------

    def start_tickets_pipeline(self, changelog: DataFrame, checkpoint_dir: str,
                               trigger: dict | None = None) -> StreamingQuery:
        """tickets changelog -> staging merge + view refresh (one job)."""
        return start_staged_refresh(
            changelog, checkpoint_dir, self.tickets, "tickets-cdc",
            self.revenue, self.refresh, "movie_id", "rev-from-tickets", trigger=trigger,
        )

    def start_movies_pipeline(self, changelog: DataFrame, checkpoint_dir: str,
                              trigger: dict | None = None) -> StreamingQuery:
        """movies changelog -> staging merge + view refresh, so dimension-side
        updates (title edits) rewrite previously-emitted groups (J1)."""
        return start_staged_refresh(
            changelog, checkpoint_dir, self.movies, "movies-cdc",
            self.revenue, self.refresh, "movie_id", "rev-from-movies", trigger=trigger,
        )


def start_staged_refresh(
    changelog: DataFrame,
    checkpoint_dir: str,
    staging: PKTable,
    staging_writer: str,
    serving: PKTable,
    refresh: Callable[[DataFrame, int, str], None],
    key: str,
    view_writer: str,
    view_key: str | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """One changelog -> staging table -> view pipeline. Each micro-batch
    merges into ``staging`` (idempotent under ``staging_writer``), then
    ``refresh(affected, batch_id, view_writer)`` recomputes exactly the
    group keys the batch touched: ``key`` of the after- and before-images,
    renamed to ``view_key``."""

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint(eager=True)
        # Serialize staging-merge + snapshot-read + serving-merge against
        # the OTHER upstream pipeline of the same view (both streams update
        # one serving table): without this, a refresh computed from a
        # pre-update dimension snapshot could commit AFTER the dimension-
        # side refresh that already saw the edit, leaving a stale title in
        # the view. This is the micro-batch analogue of Flink serializing
        # both input streams through one join-operator state.
        with _commit_lock(serving.path):
            staging.merge(
                strip_before(batch_df), batch_id=batch_id, writer_id=staging_writer
            )
            refresh(affected_keys(batch_df, key, view_key), batch_id, view_writer)

    return (
        changelog.writeStream.foreachBatch(fb)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
