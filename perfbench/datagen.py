"""Seeded input generation for the benchmark.

`write_tables` writes the ten tables the query registry reads (TPC-H-shaped
star schema plus events, documents and embeddings), one parquet file each,
with the column types and value distributions of the sf-scaled test data
the registry's oracles are written against. `tickets_base` builds the
snapshot the live CDC workload preloads before replaying its changelog.
The same seed always gives the same inputs.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from flink_cdc_fluss_quickstart_spark.sources import osb

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, size=n) / 100.0


def _days(rng: np.random.Generator, start: datetime, span_days: int, n: int) -> pa.Array:
    us = (np.datetime64(start, "us") + rng.integers(0, span_days + 1, size=n) * np.timedelta64(1, "D"))
    return pa.array(us, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, size=n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in lengths]
    # 5% near-duplicates (another doc's text plus one token) and a few exact
    # copies, so the dedup and LSH queries have pairs to find
    for i in rng.choice(n, size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write the registry's ten tables at scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    seeds = np.random.SeedSequence(seed).spawn(10)
    g = iter(np.random.default_rng(s) for s in seeds)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    rng = next(g)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(rng.integers(0, 5, size=25), pa.int32()),
        }),
    }
    rng = next(g)
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    rng = next(g)
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    rng = next(g)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    rng = next(g)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(rng, datetime(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    rng = next(g)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, size=n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, datetime(1995, 1, 2), 2498, n_line),
    })
    rng = next(g)
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, size=n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, size=n_ev), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, size=n_ev), 2)),
        "props": _pick(rng, [f'{{"k": {k}}}' for k in range(100)], n_ev),
    })
    tables["documents"] = _documents(next(g), n_docs)
    tables["embeddings"] = _embeddings(next(g), n_emb)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


BASE_TICKET_ID = 1_000_000_000  # base ids sit above every changelog id


def _cents(cents: np.ndarray) -> pa.Array:
    """DECIMAL(10,2) from integer cents (the unscaled value, no float step)."""
    unscaled = np.zeros((len(cents), 2), np.int64)  # little-endian int128
    unscaled[:, 0] = cents
    return pa.Array.from_buffers(pa.decimal128(10, 2), len(cents),
                                 [None, pa.py_buffer(unscaled.tobytes())])


def tickets_base(n_rows: int, n_movies: int, seed: int) -> pa.Table:
    """The preloaded tickets snapshot, in the staging table's stored schema.

    Its ids never collide with changelog ids and its movie ids spread over
    the ids the changelog generates, so every view refresh scans base rows.
    """
    rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
    statuses = list(osb.STATUSES)
    start = np.datetime64(osb.BASE_TS - timedelta(days=30), "us")
    return pa.table({
        "seq": pa.array(np.zeros(n_rows, np.int64)),
        "ticket_id": pa.array(BASE_TICKET_ID + np.arange(n_rows), pa.int64()),
        "movie_id": pa.array(rng.integers(1, n_movies + 1, size=n_rows), pa.int64()),
        "user_id": pa.array(rng.integers(1, 10_000, size=n_rows), pa.int64()),
        "cost": _cents(rng.integers(500, 5000, size=n_rows)),
        "status": _pick(rng, statuses, n_rows),
        "purchased_at": pa.array(start + rng.integers(0, 30 * 86_400, size=n_rows)
                                 * np.timedelta64(1, "s"), pa.timestamp("us")),
    })
