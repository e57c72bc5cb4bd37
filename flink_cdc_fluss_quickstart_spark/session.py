"""SparkSession factory tuned for both local testing and large-cluster scale.

The reference sizes a single Flink TaskManager with 64 slots and 4 hash
buckets per table (flink-cdc/docker-compose.yaml:42-45, tickets-cdc.sql:34).
Spark's analogue is shuffle partitioning + AQE; at cluster scale AQE coalesces
or splits post-shuffle partitions at runtime, so we set a generous static
shuffle partition count and let AQE right-size it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Tuned for local[32] testing; on a real cluster spark-submit conf wins:
# get_spark applies each of these ONLY when the key was not passed via
# spark-submit --conf (builder.config has the highest precedence, so
# unconditional application would silently clobber cluster tuning). AQE makes
# the static shuffle-partition count a ceiling, not a fixed cost: empty/small
# partitions are coalesced at runtime.
_BASE_CONF: dict[str, str] = {
    # deterministic timestamps across engines (DuckDB oracle parity)
    "spark.sql.session.timeZone": "UTC",
    # adaptive execution: runtime re-planning, skew-join handling, partition
    # coalescing -- the 100 TB posture knobs
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # let AQE re-plan CACHED frames too (off by default purely for
    # compatibility with consumers that assume a persisted frame's physical
    # partitioning): the engine's shared profiles (_doc_tf, dedup band
    # frames, Lloyd codebooks) are persisted and re-consumed by several
    # joins/aggregations each -- without this their post-shuffle layout is
    # frozen at materialization width and every consumer stage inherits it,
    # with it AQE right-sizes the cached plan like any other (guide: size
    # partitions by bytes, let AQE coalesce). Nothing here depends on cache
    # partitioning: the one partition-id consumer (operators.ranking)
    # stamps spark_partition_id INSIDE the persisted frame, so both its
    # readers see the one materialized assignment either way. Measured at
    # sf0.1 (paired same-session A/B, warm): bigram_lm_surprisal 2.39 ->
    # 2.10 s, rrf_hybrid_retrieval 2.43 -> 2.35 s, embedding_ivfpq_topk
    # 3.42 -> 3.17 s.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # let AQE rewrite a sort-merge join to shuffled-hash AT RUNTIME when it
    # has PROVED every post-shuffle partition of the build side is under
    # 64 MB (the knob ships disabled at 0). This skips the per-partition
    # sorts without the memory risk of a static SHUFFLE_HASH preference:
    # the rewrite fires only on measured partition bytes, so memory stays
    # partition-bounded at any scale -- partitions above the threshold
    # keep sort-merge. SCOPE, corrected by the r16 runtime-plan dumps
    # (plans/r16/*_final_adaptive.txt): the rewrite CANNOT fire through a
    # user SHUFFLE_MERGE hint, so the r14 sort-merge-pinned corpus
    # self-joins (band/shingle/census families, functions/dedup.py
    # _corpus_join_side) provably keep SortMergeJoin at runtime -- the r15
    # band-family A/B deltas attributed to this knob were ambient-floor
    # noise. Where it DOES fire is the engine's unhinted interior
    # sort-merge joins (e.g. rrf_hybrid_retrieval's full-outer rank
    # fusion join -- ShuffledHashJoin FullOuter BuildLeft in its
    # isFinalPlan=true dump). Kept for exactly those joins; the pins stay
    # authoritative for the corpus self-joins by construction.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    # ...and pin the advisory partition size it is compared against
    # (ADVICE r15): the rewrite only activates while the threshold is >=
    # advisoryPartitionSizeInBytes, so a deployment raising the advisory
    # via spark-submit would silently disarm the knob above if the
    # advisory were left implicit. 64m is Spark's default; stating it
    # makes the coupling explicit and survivable under cluster tuning
    # (spark-submit still wins for BOTH keys together, which keeps the
    # pair coherent).
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # Arrow for any pandas UDF edge (vectorized transfer, never row-at-a-time)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # broadcast small dimension tables aggressively (region/nation/part/
    # customer at test SF; on a cluster the 10 MB default would re-apply via
    # spark-submit conf)
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # files: pack small test files; at 100 TB the default 128m target holds
    "spark.sql.files.maxPartitionBytes": "128m",
    # the events table is written with TIMESTAMP(NANOS) parquet type, which
    # Spark only reads as raw long; tables.py converts back to timestamp
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # every run here is headless (pytest / bench / report tools whose stderr
    # lands in committed artifacts like PLANS.err); the interactive stage
    # progress bar is pure noise in that setting
    "spark.ui.showConsoleProgress": "false",
    # local-mode heap: in local[N] the ONE driver JVM is also every
    # executor, and PySpark's default 1g heap OOMs the spill machinery
    # under 32-way sort-merge fan-out (winnowing pair join at a 50k-doc
    # corpus). Sized 4g, env-overridable; cluster deployments override via
    # spark-submit conf (takes effect at JVM launch, exactly when
    # get_spark runs).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
    # ...but a bigger heap alone made banded self-joins 3.5-8x SLOWER under
    # the default G1 collector: with more execution memory the shuffle
    # sorters grow their pointer arrays to ~256 MB single allocations, which
    # G1 treats as humongous objects and stalls on ("GCLocker too often"
    # warnings; ZGC chokes the same way, and ParallelGC fixes batch but
    # doubles streaming micro-batch p95 with its stop-the-world pauses).
    # Capping sorter growth at the SOURCE keeps every allocation
    # region-friendly: batch self-joins return to their best times
    # (simhash 50k-doc corpus: 17s -> 3.6s) AND G1's low pauses keep the
    # streaming envelope at p95 ~0.57s. 4M records/sorter = 32 MB pointer
    # arrays; spills beyond that are compact sorted runs, which is the
    # behavior the small default heap enforced by accident.
    "spark.shuffle.spill.numElementsForceSpillThreshold": "4000000",
    # FAIR scheduling so streaming micro-batches are not queued behind
    # long-running batch stages when both share one session (the reference
    # runs streaming jobs on dedicated slots; pools are Spark's analogue).
    # Threads opt into a pool via the spark.scheduler.pool local property --
    # see streaming_envelope in bench.py; default-pool behavior for a single
    # workload is unchanged.
    "spark.scheduler.mode": "FAIR",
}


def get_spark(app_name: str = "flink-cdc-fluss-quickstart-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured.
    """
    # spark-submit conf must WIN over the local-testing defaults below:
    # builder.config has the highest precedence, so each default applies
    # only when the key was not submitted. The probe reads
    # PYSPARK_SUBMIT_ARGS (where spark-submit's --master/--conf args land)
    # rather than constructing a SparkConf, which would launch the gateway
    # JVM early -- BEFORE the builder's spark.driver.memory could take
    # effect at JVM launch, silently reverting the 4g local heap to 1g.
    import re as _re

    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    _submitted = set(_re.findall(r"--conf\s+([^=\s]+)=", submit_args))
    has_conf = lambda k: k in _submitted  # noqa: E731
    master_submitted = "--master" in submit_args or "spark.master" in _submitted

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif not master_submitted:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        builder = builder.master(f"local[{cpus}]")
    for k, v in _BASE_CONF.items():
        if not has_conf(k):
            builder = builder.config(k, v)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    elif not has_conf("spark.sql.shuffle.partitions"):
        builder = builder.config(
            "spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE", "32")
        )
    spark = builder.getOrCreate()
    _configure_state_store(spark)
    return spark


def rebind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s plan as a DataFrame of ``spark``, a session over the same
    SparkContext. The cache is shared, so persisted subtrees keep reading
    their cached data."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(  # type: ignore[union-attr]
        spark._jsparkSession, df._jdf.queryExecution().logical()
    )
    return DataFrame(jdf, spark)


def loop_frame(df: DataFrame, conf: dict[str, str]) -> DataFrame:
    """``df`` rebound to a child session that carries ``conf`` on top of a
    clone of df's session conf (same SparkContext and cache). Frames
    derived from the result plan and run under the loop's settings, while
    the caller's session -- and any query running on it concurrently --
    never sees them. Hand results back to the caller with ``rebind``."""
    parent = df.sparkSession
    child = SparkSession(parent.sparkContext, parent._jsparkSession.cloneSession())
    for k, v in conf.items():
        child.conf.set(k, v)
    return rebind(df, child)


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _configure_state_store(spark: SparkSession) -> None:
    """Pin the RocksDB state-store provider for streaming state (T5).

    The reference pins RocksDB for Flink state
    (flink-cdc/docker-compose.yaml:16 `state.backend.type: rocksdb`); Spark's
    analogue keeps streaming aggregation/dedup state off-heap and spillable
    instead of in the HDFS-backed in-memory map -- the difference between
    bounded and unbounded executor memory for large keyed state at 100 TB.

    Guarded: only set when the provider class ships in this Spark build (it
    is bundled since 3.2, but a stripped deployment without rocksdbjni should
    degrade to the default provider, not fail at stream start).
    """
    try:
        spark._jvm.java.lang.Class.forName(_ROCKSDB_PROVIDER)  # type: ignore[union-attr]
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER)
        # changelog checkpointing moves the per-commit durability work from
        # a full RocksDB snapshot upload to a small changelog append;
        # snapshots happen on the background maintenance thread instead of
        # the trigger path -- Spark's analogue of Flink's incremental
        # RocksDB checkpoints, and the direct fix for the snapshot-upload
        # stalls that colored the r12 isolated-envelope p95 (BENCH_NOTES
        # r13: 45 s isolated p95 median 1.27 s -> 0.57 s with this on,
        # measured at comparable floors). Same exactly-once guarantees;
        # checkpoints are created fresh per query here, so no format
        # migration concern.
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb"
            ".changelogCheckpointing.enabled",
            "true",
        )
    except Exception:
        pass
