"""Trained-model persistence through PKTable -- the fastText
``save_model`` / ``load_model`` analogue.

Reference parity: the lakehouse is the reference stack's only durable
store (reference `README.md:81-95` -- everything that must survive a
restart lives in Paimon/Iceberg tables). A trained curation model is no
different: until it is written to the warehouse, the fit -> serve
lifecycle ends at the session boundary. This module closes that loop for
the two trained classifier families:

- the hashed n-gram langid (``plans/text_queries.hashed_langid_fit``):
  model = a bucket-keyed weight frame + the df-capped hot-gram list --
  cluster-sized state that must stay distributed (fastText's 2M-bucket
  shape), so each part becomes a PKTable;
- the logistic-regression quality scorer (``plans/text_queries.logreg_fit``):
  model = 15 doubles + a count, driver-sized, stored as a tiny keyed table.

Why PKTable and not a bare parquet directory: PKTable gives the model
store the SAME durability semantics as every other warehouse table --
atomic snapshot swap (a reader never sees a half-written model), versioned
history (``snapshot(version=)`` time-travels to any previously published
model -- instant rollback of a bad fit), and writer-epoch fencing (a
zombie trainer from a dead session cannot clobber a newer model).

Determinism contract: every model number is an IEEE-754 double or an
integer; parquet stores both exactly, so a reloaded model serves
BIT-IDENTICAL scores to the session that fit it
(tests/test_model_store.py proves this across a session boundary).

Hash-compat guard: a hashed-gram model is only meaningful under the exact
featurization that trained it (bucket count, gram inventory, hash prefix,
quantization scale). ``meta.json`` records those constants at save time
and ``load_*`` refuses a mismatch -- serving a 1024-bucket model in a
2048-bucket engine would silently mis-route every gram.

Multi-table atomicity: a model that spans two PKTables (langid weights +
hot grams; PQ books + codes) cannot rely on the two overwrites landing as
one commit -- they are separate manifest swaps. The cutover point is
therefore ``meta.json`` itself: every save/ingest records the consistent
(subtable -> PKTable version) pair in a publish LEDGER and swaps meta.json
LAST (atomic ``os.replace``). ``load_*`` resolves versions THROUGH the
ledger, so a concurrent reader -- or any load after a crash between the
two table commits -- either sees the previous complete publish (whose
versions stay readable for the GC grace window) or the new one, never new
weights paired with an old hot list. ``load_*(version=k)`` addresses
ledger publish k, which stays correct even if the two tables' raw version
counters ever skew (a mid-save crash); legacy metas without a ledger fall
back to raw lockstep versions with an explicit skew check.
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from flink_cdc_fluss_quickstart_spark.streaming.pk_table import (
    PKTable,
    _atomic_write_text,
    _commit_lock,
)

_META = "meta.json"

# superseded model/index VERSIONS keep their data this long after the next
# publish (PKTable gc_grace): rollback is the registry's point, so the
# default is days, not the table default's minutes -- a bad fit discovered
# tomorrow must still be reversible. Storage cost is one model footprint
# per retained version, metadata-sized for every artifact here.
MODEL_GC_GRACE_SECS = 7 * 86400.0


# creation-time bucket count for the POINT-SERVED subtables (bands, codes)
# -- the reference's `bucket.num` serving knob (flink-cdc/flink-gen.sh:
# 118-142): a k-key lookup reads at most wanted/n_buckets of the table, so
# the serving fraction is bounded by this, not by the artifact-wide default
# of 4 that suits the bulk-loaded weights/coef/books tables. Creation-time
# only: reopened tables adopt their manifest's stored count (PKTable
# contract -- re-routing keys would orphan rows).
SERVING_BUCKETS = 16


def _table(spark: SparkSession, path: str, keys, order_by,
           n_buckets: int = 4) -> PKTable:
    return PKTable(
        spark, path, keys=keys, order_by=order_by, n_buckets=n_buckets,
        gc_grace_secs=MODEL_GC_GRACE_SECS,
    )


def _write_meta(path: str, meta: dict) -> None:
    _atomic_write_text(
        os.path.join(path, _META), json.dumps(meta, indent=1, sort_keys=True)
    )


def _read_meta(path: str) -> dict:
    with open(os.path.join(path, _META)) as f:
        return json.load(f)


def _current_version(t: PKTable) -> int:
    return int(t._read_manifest()["version"])


def _publish_meta(path: str, meta: dict, versions: dict, extra: dict | None = None) -> None:
    """Record this publish in the meta ledger and atomically swap meta.json
    LAST -- the cutover point of a multi-table publish. ``versions`` is the
    consistent (subtable -> PKTable version) map readers must load together;
    until this write lands, loads keep resolving the PREVIOUS complete
    publish, whose table versions remain readable for the GC grace window.

    The ledger read-modify-write serializes under the SAME per-path commit
    lock PKTable uses for its manifests: the ledger is load-bearing for
    version resolution, and two in-process savers/ingesters interleaving
    here could drop an entry or duplicate a publish number. Like PKTable
    commits, cross-PROCESS writers are assumed single-writer per artifact
    (a production deployment maps this onto the table format's own
    transaction protocol)."""
    with _commit_lock(path):
        prior: list = []
        if os.path.exists(os.path.join(path, _META)):
            prior = list(_read_meta(path).get("publishes", []))
        entry = {"publish": len(prior) + 1, "versions": dict(versions)}
        if extra:
            entry.update(extra)
        meta = dict(meta)
        meta["versions"] = dict(versions)
        meta["publishes"] = prior + [entry]
        _write_meta(path, meta)


def _ledger_behind(path: str, sub: str, current: int) -> bool:
    """True when subtable ``sub``'s committed version is AHEAD of what the
    last ledger entry recorded -- i.e. some earlier ingest committed its
    table write but crashed before its ledger publish. The replaying caller
    must repair the ledger even though its own table write was an
    idempotent no-op; gating the publish on "did MY call advance the
    version" would leave the committed rows invisible to load_* forever."""
    pubs = _read_meta(path).get("publishes") or []
    if not pubs:
        return True  # legacy ledger-less meta: seed the ledger
    last = pubs[-1]["versions"].get(sub)
    return last is None or int(current) > int(last)


def _resolve_publish(meta: dict, version: int | None, subs: tuple, path: str):
    """Map a requested publish number onto the per-subtable version map the
    ledger recorded for it. Returns (versions_map, ledger_entry_or_None).
    ``version=None`` -> the last COMPLETE publish. Legacy metas (saved
    before the ledger existed) return raw PKTable versions and None; the
    caller must then skew-check the lockstep assumption itself."""
    pubs = meta.get("publishes")
    if pubs is None:
        return {s: version for s in subs}, None
    if version is None:
        entry = pubs[-1]
    else:
        match = [e for e in pubs if e["publish"] == version]
        if not match:
            raise ValueError(
                f"no publish {version} in the ledger at {path}"
                f" (recorded: {[e['publish'] for e in pubs]})"
            )
        entry = match[-1]
    return dict(entry["versions"]), entry


def _check_lockstep(path: str, tables: dict) -> None:
    """Legacy-meta guard: without a ledger, load assumes all subtables
    version in lockstep -- verify it, don't trust it."""
    vs = {name: _current_version(t) for name, t in tables.items()}
    if len(set(vs.values())) > 1:
        raise ValueError(
            f"model at {path} predates the publish ledger and its subtable"
            f" versions have skewed ({vs}): a crashed or concurrent save"
            " desynced the tables; re-publish the model to repair"
        )


def _check_compat(saved: dict, current: dict, path: str) -> None:
    bad = {k: (saved.get(k), v) for k, v in current.items() if saved.get(k) != v}
    if bad:
        raise ValueError(
            f"model at {path} was trained under a different featurization: "
            + ", ".join(f"{k}: saved={s!r} vs engine={c!r}" for k, (s, c) in bad.items())
        )


# -- hashed n-gram langid ---------------------------------------------------


def _hlr_meta() -> dict:
    from flink_cdc_fluss_quickstart_spark.plans import text_queries as tq

    return {
        "model_type": "hashed_ngram_langid",
        "buckets": tq.HLR_BUCKETS,
        "grams": "unigram+bigram",
        "hash": "md5_hex_prefix(hg|gram)",
        "scale": tq.LOGREG_SCALE,
        "df_cap_denom": tq.HLR_DF_CAP_DENOM,
        "target_lang": tq.HLR_TARGET_LANG,
    }


def save_langid_model(
    spark: SparkSession,
    path: str,
    weights: DataFrame,
    hot: DataFrame,
    classes: bool = False,
) -> None:
    """Publish a trained langid model: weights -> PKTable keyed by bucket
    (by (bucket, cls) for the multiclass one-vs-rest frame), hot grams ->
    PKTable keyed by gram, then the featurization meta + publish-ledger
    entry recording the two tables' committed versions -- written LAST, the
    atomic cutover (see module docstring): a crash between the table
    commits leaves the previous complete publish in force.

    100 TB posture: both writes are straight distributed parquet -- the
    weight frame never visits the driver (at fastText's 2M-bucket space it
    never could), and the hot list is the bounded df-capped Zipf head."""
    wkeys = ["b", "cls"] if classes else ["b"]
    wt = _table(spark, os.path.join(path, "weights"), wkeys, wkeys)
    wt.overwrite(weights.select(*wkeys, "w"))
    ht = _table(spark, os.path.join(path, "hot"), ["gram"], ["gram"])
    # a model may have an EMPTY hot list (tiny corpora); PKTable handles
    # empty overwrites, and load distinguishes "no hot grams" from "no model"
    ht.overwrite(hot.select("gram"))
    meta = _hlr_meta()
    meta["classes"] = bool(classes)
    _publish_meta(
        path, meta,
        {"weights": _current_version(wt), "hot": _current_version(ht)},
        extra={"classes": bool(classes)},
    )


def load_langid_model(
    spark: SparkSession, path: str, version: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Reload (weights, hot) from a freshly constructed engine/session.
    ``version`` addresses a publish-ledger entry (the rollback path): both
    tables are read at the versions that entry recorded TOGETHER, so the
    pair is consistent even if the raw table counters have skewed. Legacy
    ledger-less metas fall back to lockstep versions after a skew check."""
    meta = _read_meta(path)
    cur = _hlr_meta()
    cur["classes"] = meta.get("classes", False)  # shape is the model's choice
    _check_compat(meta, cur, path)
    vers, entry = _resolve_publish(meta, version, ("weights", "hot"), path)
    # the one-vs-rest shape is per-PUBLISH (a rollback target may predate a
    # shape switch); the ledger entry records it, legacy metas only latest
    classes = entry.get("classes", meta.get("classes", False)) if entry \
        else meta.get("classes", False)
    wkeys = ["b", "cls"] if classes else ["b"]
    wt = _table(spark, os.path.join(path, "weights"), wkeys, wkeys)
    ht = _table(spark, os.path.join(path, "hot"), ["gram"], ["gram"])
    if entry is None:
        _check_lockstep(path, {"weights": wt, "hot": ht})
    weights = wt.snapshot(version=vers["weights"])
    hot = ht.snapshot(version=vers["hot"])
    if weights is None:
        raise ValueError(f"no published langid model at {path}")
    if hot is None:
        hot = spark.createDataFrame([], "gram string")
    return weights.select(*wkeys, "w"), hot.select("gram")


# -- logistic-regression quality scorer --------------------------------------


def _lr_meta() -> dict:
    from flink_cdc_fluss_quickstart_spark.plans import text_queries as tq

    return {
        "model_type": "logreg_quality",
        "n_feat": tq._LR_NFEAT,
        "scale": tq.LOGREG_SCALE,
        "stops": list(tq.LOGREG_STOPS),
        "long_len": tq.LOGREG_LONG_LEN,
        "mwl_cap": tq.LOGREG_MWL_CAP,
        "len_cap": tq.LOGREG_LEN_CAP,
    }


def save_logreg_model(
    spark: SparkSession, path: str, model, baseline: DataFrame | None = None
) -> None:
    """Publish a trained LogregModel as a feature-indexed 5-row table
    (j, w, m, sd) plus a scalar row for n/train_bucket in the meta. The
    doubles pass through parquet exactly, so reload is bit-identical.

    ``baseline`` (optional): the validation-time score histogram --
    the (bin, n) frame ``plans.text_queries.score_bin_counts`` emits over
    the holdout scores -- persisted ALONGSIDE the model so later serving
    sessions can PSI-compare their score distribution against the
    distribution this model was validated on
    (``score_drift_vs_baseline_frame``), across any number of restarts.
    It versions in the same ledger entry as the coefficients: rolling the
    model back also rolls back its reference histogram."""
    rows = [
        (j, float(model.w[j]), float(model.m[j]), float(model.sd[j]))
        for j in range(len(model.w))
    ]
    df = spark.createDataFrame(rows, "j int, w double, m double, sd double")
    t = _table(spark, os.path.join(path, "coef"), ["j"], ["j"])
    t.overwrite(df)
    versions = {"coef": _current_version(t)}
    if baseline is not None:
        bt = _table(spark, os.path.join(path, "baseline"), ["bin"], ["bin"])
        bt.overwrite(baseline.select("bin", "n"))
        versions["baseline"] = _current_version(bt)
    meta = _lr_meta()
    meta["n"] = int(model.n)
    meta["train_bucket"] = model.train_bucket
    # n / train_bucket are MODEL state that must pair with the coef rows:
    # the ledger entry carries them per publish, and the meta swap (last,
    # atomic) is the cutover -- a crash after the coef overwrite but before
    # this write leaves the previous (coef version, n) pair in force
    _publish_meta(
        path, meta, versions,
        extra={"n": int(model.n), "train_bucket": model.train_bucket},
    )


def load_logreg_model(spark: SparkSession, path: str, version: int | None = None):
    """Reload a LogregModel; ``version`` rolls back to an older ledger
    publish, restoring THAT publish's (coef rows, n, train_bucket) together
    -- n from a later fit paired with older coefficients would silently
    skew every score."""
    from flink_cdc_fluss_quickstart_spark.plans.text_queries import LogregModel

    meta = _read_meta(path)
    cur = _lr_meta()
    _check_compat(meta, cur, path)
    vers, entry = _resolve_publish(meta, version, ("coef",), path)
    t = _table(spark, os.path.join(path, "coef"), ["j"], ["j"])
    snap = t.snapshot(version=vers["coef"])
    if snap is None:
        raise ValueError(f"no published logreg model at {path}")
    rows = {r["j"]: r for r in snap.collect()}  # n_feat rows -- driver-sized
    n_feat = meta["n_feat"]
    if sorted(rows) != list(range(n_feat)):
        raise ValueError(f"logreg model at {path} is missing coefficient rows")
    src = entry if entry is not None else meta
    return LogregModel(
        w=tuple(rows[j]["w"] for j in range(n_feat)),
        m=tuple(rows[j]["m"] for j in range(n_feat)),
        sd=tuple(rows[j]["sd"] for j in range(n_feat)),
        n=src["n"],
        train_bucket=src.get("train_bucket"),
    )


def load_score_baseline(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Reload the validation-time score histogram published with a logreg
    model (``save_logreg_model(..., baseline=)``): the 10-row (bin, n)
    reference frame ``score_drift_vs_baseline_frame`` compares a serving
    session against. ``version`` addresses the same ledger publish as
    ``load_logreg_model`` -- model and baseline roll back together."""
    meta = _read_meta(path)
    _check_compat(meta, _lr_meta(), path)
    vers, entry = _resolve_publish(meta, version, ("coef",), path)
    bver = vers.get("baseline") if entry is not None else version
    if entry is not None and "baseline" not in vers:
        raise ValueError(
            f"publish {entry['publish']} at {path} was saved without a"
            " baseline histogram (pass baseline= to save_logreg_model)"
        )
    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import MANIFEST

    if not os.path.exists(os.path.join(path, "baseline", MANIFEST)):
        # don't construct a handle on a missing table -- it would seed a
        # spurious empty manifest inside the artifact
        raise ValueError(f"no published score baseline at {path}")
    bt = _table(spark, os.path.join(path, "baseline"), ["bin"], ["bin"])
    snap = bt.snapshot(version=bver)
    if snap is None:
        raise ValueError(f"no published score baseline at {path}")
    return snap.select("bin", "n")


# -- serving indexes (the dedup / ANN state, same lifecycle as models) -------


def _mh_meta() -> dict:
    from flink_cdc_fluss_quickstart_spark.functions import dedup

    return {
        "model_type": "minhash_band_index",
        "n_perms": dedup.N_PERMS,
        "n_bands": dedup.N_BANDS,
        "n_rows": dedup.N_ROWS,
        "shingle_len": dedup.WORD_SHINGLE_LEN,
    }


def save_minhash_index(spark: SparkSession, path: str, band_frame: DataFrame) -> None:
    """Publish a banded MinHash index -- the (id, band_idx, band_key) frame
    `dedup.minhash_band_keyed` emits -- as a PKTable keyed (id, band_idx).
    This is the daily-dedup serving state: tomorrow's batch computes ITS
    band keys and probes this table (cost |batch| x bucket), the corpus is
    never re-shingled. Same atomic-publish / versioned-rollback / compat
    guarantees as the trained models."""
    import pyspark.sql.functions as F

    t = _table(spark, os.path.join(path, "bands"), ["id", "band_idx"], ["seq"],
               n_buckets=SERVING_BUCKETS)
    # seq rides in the stored payload (PKTable contract: ordering columns
    # are part of the row) -- the seed publish is ingest sequence 0
    t.overwrite(
        band_frame.select("id", "band_idx", "band_key")
        .withColumn("seq", F.lit(0).cast("long"))
    )
    _publish_meta(path, _mh_meta(), {"bands": _current_version(t)})


def upsert_minhash_index(
    spark: SparkSession, path: str, band_frame: DataFrame, batch_id: int
) -> None:
    """Ingest a NEW day's band rows into the published index (PKTable DELTA
    ingest -- idempotent per batch_id, so a replayed ingest is a no-op).
    Write cost is O(|batch|): the batch lands as per-bucket delta files and
    NOTHING existing is read or rewritten (r13 measurement: the old
    merge-based ingest cost a full index rebuild per batch, because a
    uniformly-hashed band batch touches every bucket); compaction folds the
    deltas once per threshold-many ingests."""
    import pyspark.sql.functions as F

    meta = _read_meta(path)
    _check_compat(meta, _mh_meta(), path)
    t = _table(spark, os.path.join(path, "bands"), ["id", "band_idx"], ["seq"],
               n_buckets=SERVING_BUCKETS)
    t.ingest(
        band_frame.select(
            "id", "band_idx", "band_key",
            F.lit("I").alias("op"), F.lit(batch_id).cast("long").alias("seq"),
        ),
        batch_id=batch_id,
        writer_id="minhash-ingest",
    )
    # publish whenever the table is AHEAD of the ledger, not just when THIS
    # call advanced it: a crash between a prior ingest's table commit and
    # its ledger publish makes the documented recovery (replay the batch_id)
    # a table-level no-op -- the replay must still repair the ledger, or the
    # committed rows stay invisible to load_* indefinitely
    with _commit_lock(path):
        after = _current_version(t)
        if _ledger_behind(path, "bands", after):
            _publish_meta(path, _mh_meta(), {"bands": after},
                          extra={"ingest_batch": int(batch_id)})


def load_minhash_index(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    meta = _read_meta(path)
    _check_compat(meta, _mh_meta(), path)
    vers, _entry = _resolve_publish(meta, version, ("bands",), path)
    t = _table(spark, os.path.join(path, "bands"), ["id", "band_idx"], ["seq"],
               n_buckets=SERVING_BUCKETS)
    snap = t.snapshot(version=vers["bands"])
    if snap is None:
        raise ValueError(f"no published minhash index at {path}")
    return snap.select("id", "band_idx", "band_key")


def lookup_minhash_bands(
    spark: SparkSession, path: str, ids, version: int | None = None
) -> DataFrame | None:
    """Point-serve band rows for a handful of doc ids from the PUBLISHED
    index -- the Fluss PK lookup shape (`bucket.num`,
    flink-cdc/flink-gen.sh:118-142) composed through the publish ledger:
    resolve the requested publish (default: latest) to its bands-table
    version, expand the ids against the published band range (the full
    key is (id, band_idx); the client knows its doc ids, the meta knows
    n_bands), and bucket-pruned point-read ONLY the buckets those keys
    hash into (PKTable.lookup). A k-doc probe reads at most
    min(k*n_bands, n_buckets)/n_buckets of the index -- a point read,
    never an index scan; pending ingest deltas resolve merge-on-read.
    Returns (id, band_idx, band_key) rows; zero rows when no id is
    published; None only for an artifact with no data at all."""
    meta = _read_meta(path)
    _check_compat(meta, _mh_meta(), path)
    vers, _entry = _resolve_publish(meta, version, ("bands",), path)
    t = _table(spark, os.path.join(path, "bands"), ["id", "band_idx"], ["seq"],
               n_buckets=SERVING_BUCKETS)
    probe = spark.createDataFrame(
        [(int(i), b) for i in ids for b in range(int(meta["n_bands"]))],
        "id bigint, band_idx int",
    )
    out = t.lookup(probe, version=vers["bands"])
    return out if out is None else out.select("id", "band_idx", "band_key")


def lookup_pq_codes(
    spark: SparkSession, path: str, vec_ids, version: int | None = None
) -> DataFrame | None:
    """Point-serve the PQ code rows of a handful of vector ids from the
    PUBLISHED index (ledger-resolved, like ``lookup_minhash_bands``): the
    full key is (vec_id, m) and the meta knows pq_m, so the client probes
    by vec_id alone. Reads at most min(k*pq_m, n_buckets)/n_buckets of
    the codes table; the frozen codebooks (PQ_M x PQ_K rows) load
    normally. Returns (vec_id, m, code, d2) rows."""
    meta = _read_meta(path)
    _check_compat(meta, _pq_meta(), path)
    vers, _entry = _resolve_publish(meta, version, ("books", "codes"), path)
    ct = _table(spark, os.path.join(path, "codes"), ["vec_id", "m"], ["vec_id", "m"],
               n_buckets=SERVING_BUCKETS)
    probe = spark.createDataFrame(
        [(int(v), m) for v in vec_ids for m in range(int(meta["pq_m"]))],
        "vec_id bigint, m int",
    )
    out = ct.lookup(probe, version=vers["codes"])
    return out if out is None else out.select("vec_id", "m", "code", "d2")


def _pq_meta() -> dict:
    from flink_cdc_fluss_quickstart_spark.functions import similarity
    from flink_cdc_fluss_quickstart_spark.plans import similarity_queries as sq

    return {
        "model_type": "pq_index",
        "pq_m": sq.PQ_M,
        "pq_k": sq.PQ_K,
        "pq_subdim": sq.PQ_SUBDIM,
        "dim": sq.DIM,
        "scale": similarity.SCALE,
    }


def save_pq_index(
    spark: SparkSession, path: str, books: DataFrame, codes: DataFrame
) -> None:
    """Publish a trained PQ index: the codebooks (m, cluster, cv -- PQ_M x
    PQ_K rows, the trained artifact) and the encoded corpus (vec_id, m,
    code, d2 -- PQ_M bytes of payload per vector). ADC serving from the
    reloaded pair never touches the float corpus -- which is the point of
    persisting it: re-encoding 100 TB of embeddings because the session
    died is the failure mode this store removes."""
    bt = _table(spark, os.path.join(path, "books"), ["m", "cluster"], ["m", "cluster"])
    bt.overwrite(books.select("m", "cluster", "cv"))
    ct = _table(spark, os.path.join(path, "codes"), ["vec_id", "m"], ["vec_id", "m"],
               n_buckets=SERVING_BUCKETS)
    ct.overwrite(codes.select("vec_id", "m", "code", "d2"))
    _publish_meta(
        path, _pq_meta(),
        {"books": _current_version(bt), "codes": _current_version(ct)},
    )


def upsert_pq_index(
    spark: SparkSession, path: str, new_codes: DataFrame, batch_id: int
) -> None:
    """Ingest NEW vectors' code rows into the published PQ index -- the
    day-2 path that closes the index lifecycle: encode the new embeddings
    with the RELOADED, FROZEN codebooks
    (``plans.similarity_queries.pq_encode_with_books(new_emb, books)``) and
    merge the resulting (vec_id, m, code, d2) rows here. The codebooks are
    immutable trained artifacts, so ONLY the codes table grows -- by PQ_M
    rows per new vector, at O(|batch|) write cost (PKTable delta ingest:
    the rows land as per-bucket delta files, the existing codes are never
    read or rewritten; compaction amortizes the fold). The ingest is
    idempotent per batch_id (a replayed ingest is a table-level no-op
    and adds no ledger entry); after it commits, the ledger records the new
    consistent (books, codes) pair -- a crash in between leaves the
    pre-ingest publish in force."""
    import pyspark.sql.functions as F

    meta = _read_meta(path)
    _check_compat(meta, _pq_meta(), path)
    ct = _table(spark, os.path.join(path, "codes"), ["vec_id", "m"], ["vec_id", "m"],
               n_buckets=SERVING_BUCKETS)
    ct.ingest(
        new_codes.select("vec_id", "m", "code", "d2", F.lit("I").alias("op")),
        batch_id=batch_id,
        writer_id="pq-ingest",
    )
    # ledger-repair semantics, same as upsert_minhash_index: publish when
    # the codes table is ahead of the last ledger entry (covers the
    # crash-before-publish replay, where the re-ingest is a table no-op)
    with _commit_lock(path):
        after = _current_version(ct)
        if _ledger_behind(path, "codes", after):
            bt = _table(
                spark, os.path.join(path, "books"), ["m", "cluster"], ["m", "cluster"]
            )
            _publish_meta(
                path, _pq_meta(),
                {"books": _current_version(bt), "codes": after},
                extra={"ingest_batch": int(batch_id)},
            )


def load_pq_index(
    spark: SparkSession, path: str, version: int | None = None
) -> tuple[DataFrame, DataFrame]:
    meta = _read_meta(path)
    _check_compat(meta, _pq_meta(), path)
    vers, entry = _resolve_publish(meta, version, ("books", "codes"), path)
    bt = _table(spark, os.path.join(path, "books"), ["m", "cluster"], ["m", "cluster"])
    ct = _table(spark, os.path.join(path, "codes"), ["vec_id", "m"], ["vec_id", "m"],
               n_buckets=SERVING_BUCKETS)
    if entry is None:
        _check_lockstep(path, {"books": bt, "codes": ct})
    books = bt.snapshot(version=vers["books"])
    codes = ct.snapshot(version=vers["codes"])
    if books is None or codes is None:
        raise ValueError(f"no published PQ index at {path}")
    return (
        books.select("m", "cluster", "cv"),
        codes.select("vec_id", "m", "code", "d2"),
    )


# the subtable whose commit history IS the artifact's version history,
# per artifact type -- for the PQ index that is the codes table (ingests
# advance the index; the books are a frozen trained artifact)
_PRIMARY_SUB = {
    "hashed_ngram_langid": "weights",
    "logreg_quality": "coef",
    "minhash_band_index": "bands",
    "pq_index": "codes",
}

# per-type subtable layout (keys, order_by spec) -- what compact_artifact
# needs to reconstruct handles; 'keys' doubles as order for the static
# tables, the band index orders by ingest sequence
_SUB_LAYOUT: dict[str, dict[str, tuple[list[str], list[str]]]] = {
    "minhash_band_index": {"bands": (["id", "band_idx"], ["seq"])},
    "pq_index": {
        "books": (["m", "cluster"], ["m", "cluster"]),
        "codes": (["vec_id", "m"], ["vec_id", "m"]),
    },
    "logreg_quality": {
        "coef": (["j"], ["j"]),
        "baseline": (["bin"], ["bin"]),
    },
    # langid weights keys depend on the published shape (classes flag);
    # resolved from the meta at compact time
}


def _artifact_layout(meta: dict, path: str) -> dict:
    """The subtable layout (name -> (keys, order_by)) for the artifact's
    model_type; langid weights keys depend on the published classes flag."""
    mtype = meta.get("model_type")
    if mtype == "hashed_ngram_langid":
        wkeys = ["b", "cls"] if meta.get("classes", False) else ["b"]
        return {"weights": (wkeys, wkeys), "hot": (["gram"], ["gram"])}
    layout = _SUB_LAYOUT.get(mtype or "")
    if layout is None:
        raise ValueError(
            f"unknown model_type {mtype!r} at {path}; known:"
            f" {sorted(_SUB_LAYOUT) + ['hashed_ngram_langid']}"
        )
    return layout


def _publish_maintenance(path: str, tables: dict, tag: str) -> None:
    """Publish a ledger entry recording the subtables' POST-maintenance
    versions (tagged, no ingest_batch) -- shared by compact_artifact and
    rescale_artifact: without it the LATEST publish keeps pointing at
    pre-maintenance versions whose superseded dirs are GC-queued, so a
    plain ``load_*()`` after the grace window would raise 'snapshot
    expired'. Latest loads must never depend on a GC-expirable dir. A
    no-op when the table versions already match the last publish."""
    with _commit_lock(path):
        after = {sub: _current_version(t) for sub, t in tables.items()}
        pubs = _read_meta(path).get("publishes") or []
        last = dict(pubs[-1]["versions"]) if pubs else None
        if after and after != last:
            # drop the stale version/ledger fields; _publish_meta rebuilds
            # them under the same lock (prior entries are re-read inside)
            clean = {k: v for k, v in _read_meta(path).items()
                     if k not in ("versions", "publishes")}
            _publish_meta(path, clean, after, extra={tag: True})


def compact_artifact(spark: SparkSession, path: str) -> None:
    """Fold every pending ingest delta of the artifact's subtables into
    their bases -- the maintenance job a daily-ingest deployment schedules
    (PKTable auto-compacts past its threshold; this is the explicit
    off-peak trigger). Superseded dirs keep the model GC grace, so every
    ledger publish recorded BEFORE the compaction stays loadable across the
    boundary: ``load_*(version=k)`` time-travels through the compaction
    commit to the pre-compaction version pair (asserted in
    tests/test_index_store.py). A no-op for overwrite-only subtables.

    The compaction itself is then published to the ledger (tagged
    ``compaction: true``, no ingest_batch): without that entry, the
    LATEST publish would keep pointing at pre-compaction versions whose
    superseded dirs are GC-queued, so a plain ``load_*()`` after the
    grace window expired -- and after any later GC-triggering commit --
    would raise 'snapshot expired'. Latest loads must never depend on a
    GC-expirable dir. The republished meta is the on-disk meta verbatim:
    compaction changes the physical layout, never the featurization."""
    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import MANIFEST

    layout = _artifact_layout(_read_meta(path), path)
    tables = {}
    for sub, (keys, order_by) in layout.items():
        if not os.path.exists(os.path.join(path, sub, MANIFEST)):
            continue  # optional subtable (e.g. a baseline-less scorer)
        tables[sub] = _table(spark, os.path.join(path, sub), keys, order_by)
        tables[sub].compact()
    _publish_maintenance(path, tables, "compaction")


def rescale_artifact(spark: SparkSession, path: str, n_buckets: int,
                     subtables: Sequence[str] | None = None) -> None:
    """Rescale the bucket count of an artifact's subtables -- the serving
    lever an index that outgrew its creation-time SERVING_BUCKETS needs
    (PKTable.rescale: a k-key point read costs ~1/n_buckets of the table
    per key, so a 10x-grown index serves 10x-too-coarse lookups until
    rescaled). ``subtables`` defaults to every present subtable; pass e.g.
    ("bands",) to rescale only the point-served one. Like
    compact_artifact, the maintenance commit is published to the ledger
    (tagged ``rescale: true``) so latest loads point at the
    post-rescale dirs; prior publishes keep resolving through the
    boundary -- versioned lookups hash with the count in effect at that
    publish (PKTable's nb history)."""
    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import MANIFEST

    layout = _artifact_layout(_read_meta(path), path)
    wanted = set(layout) if subtables is None else set(subtables)
    unknown = wanted - set(layout)
    if unknown:
        raise ValueError(
            f"unknown subtables {sorted(unknown)} at {path};"
            f" layout has {sorted(layout)}"
        )
    # open EVERY present subtable (the ledger publish must record a
    # complete versions map -- a partial one would break load_*'s
    # multi-subtable resolve), rescale only the selected ones
    tables = {}
    for sub, (keys, order_by) in layout.items():
        if not os.path.exists(os.path.join(path, sub, MANIFEST)):
            continue
        tables[sub] = _table(spark, os.path.join(path, sub), keys, order_by)
        if sub in wanted:
            tables[sub].rescale(n_buckets)
    _publish_maintenance(path, tables, "rescale")


def list_model_versions(spark: SparkSession, path: str) -> list[dict]:
    """Published versions of the artifact at ``path`` (newest last) from
    its primary subtable's commit history -- the model-registry view. The
    subtable is dispatched from the meta's ``model_type`` (indexes version
    through bands/codes, not weights); an unknown type raises rather than
    guessing, and no PKTable handle is constructed on a directory that
    lacks a manifest -- the handle constructor would seed a spurious empty
    one inside the artifact."""
    from flink_cdc_fluss_quickstart_spark.streaming.pk_table import MANIFEST

    if not os.path.exists(os.path.join(path, _META)):
        raise FileNotFoundError(f"no published model at {path}")
    mtype = _read_meta(path).get("model_type")
    sub = _PRIMARY_SUB.get(mtype)
    if sub is None:
        raise ValueError(
            f"unknown model_type {mtype!r} at {path}; known:"
            f" {sorted(_PRIMARY_SUB)}"
        )
    if not os.path.exists(os.path.join(path, sub, MANIFEST)):
        raise FileNotFoundError(
            f"model at {path} declares {mtype!r} but its {sub!r} table is"
            " missing (half-deleted artifact?)"
        )
    t = _table(spark, os.path.join(path, sub), ["_"], ["_"])
    m = t._read_manifest()
    return list(m.get("history", []))


__all__ = [
    "save_langid_model",
    "load_langid_model",
    "save_logreg_model",
    "load_logreg_model",
    "load_score_baseline",
    "save_minhash_index",
    "upsert_minhash_index",
    "load_minhash_index",
    "lookup_minhash_bands",
    "lookup_pq_codes",
    "save_pq_index",
    "upsert_pq_index",
    "load_pq_index",
    "list_model_versions",
    "compact_artifact",
    "rescale_artifact",
]
