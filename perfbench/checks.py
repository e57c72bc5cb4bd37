"""Output checks: oracle digests for batch queries, a pyarrow fold for CDC.

Batch results are compared with the registry's DuckDB oracle by row count
and an order-insensitive digest: values are canonicalized (decimals to
float, timestamps to naive UTC ISO strings, collections recursively),
columns put in name order and rows sorted before hashing.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import datetime, timezone
from decimal import Decimal

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from flink_cdc_fluss_quickstart_spark.tables import TABLE_NAMES, table_path


def _canon(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc)
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def digest(rows: list[tuple], columns: list[str]) -> tuple[int, str]:
    """(row count, order-insensitive sha256 of the canonical rows)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = [tuple(_canon(r[i]) for i in order) for r in rows]
    canon.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    h = hashlib.sha256(repr(([columns[i] for i in order], canon)).encode())
    return len(canon), h.hexdigest()


class Oracle:
    """The registry's DuckDB oracle SQL over one generated table directory."""

    def __init__(self, sf_dir: str, tmp_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{tmp_dir}'")
        for t in TABLE_NAMES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")

    def digest(self, sql: str) -> tuple[int, str]:
        arrow = self.con.execute(sql).fetch_arrow_table()
        return digest([tuple(r.values()) for r in arrow.to_pylist()], arrow.column_names)

    def close(self) -> None:
        self.con.close()


TICKET_COLS = ["ticket_id", "movie_id", "user_id", "cost", "status", "purchased_at"]


def fold_tickets(base: pa.Table, changelog_dir: str) -> pa.Table:
    """Latest-by-seq row per ticket over base plus every changelog epoch,
    deletes dropped, sorted by ticket_id."""
    files = sorted(os.listdir(changelog_dir))
    log = pa.concat_tables(
        pq.read_table(os.path.join(changelog_dir, f), columns=["op", "seq", *TICKET_COLS])
        for f in files
    )
    latest: dict[int, dict] = {}
    for row in log.to_pylist():
        prev = latest.get(row["ticket_id"])
        if prev is None or row["seq"] > prev["seq"]:
            latest[row["ticket_id"]] = row
    live = [r for r in latest.values() if r["op"] != "D"]
    folded = pa.Table.from_pylist(live, schema=base.select(TICKET_COLS).schema) if live \
        else base.select(TICKET_COLS).slice(0, 0)
    # base ids never collide with changelog ids, so base rows pass through
    out = pa.concat_tables([base.select(TICKET_COLS), folded])
    return out.take(pc.sort_indices(out, [("ticket_id", "ascending")]))


def tables_equal(got: pa.Table, want: pa.Table) -> bool:
    got = got.select(want.column_names).cast(want.schema)
    got = got.take(pc.sort_indices(got, [(want.column_names[0], "ascending")]))
    return got.num_rows == want.num_rows and got.equals(want)
