"""Output checks against the engine's DuckDB oracles.

Every output is reduced to a digest: row count, integer-cent control
totals per numeric column, and an order-insensitive value hash (the
sum of per-row hashes, so duplicated or missing rows change it).  Two
relations match when their digests over the oracle's columns are
equal.  Values are normalised before hashing so that engine-specific
physical types (int vs bigint, decimal vs double, date vs timestamp)
do not matter, while any value difference does.
"""

from __future__ import annotations

import os

import duckdb

_NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "FLOAT",
            "DOUBLE", "DECIMAL", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")
_TEMPORAL = ("DATE", "TIMESTAMP")


def connect(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with each input table as a view, the way
    the engine's oracle SQL expects them."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _kind(dtype: str) -> str:
    if dtype.startswith(_NUMERIC):
        return "num"
    if dtype.startswith(_TEMPORAL):
        return "time"
    return "str"


def _norm(col: str, kind: str) -> str:
    q = f'"{col}"'
    if kind == "num":
        expr = f"CAST(CAST({q} AS DOUBLE) AS VARCHAR)"
    elif kind == "time":
        expr = f"strftime(CAST({q} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')"
    else:
        expr = f"CAST({q} AS VARCHAR)"
    return f"coalesce({expr}, '<null>')"


def columns(con, relation: str) -> dict[str, str]:
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()}


def digest(con, relation: str, cols: list[str]) -> dict:
    """Digest of ``relation`` (a table name or parenthesised query)
    over ``cols``."""
    types = columns(con, relation)
    cols = sorted(cols)
    missing = [c for c in cols if c not in types]
    if missing:
        return {"missing_columns": missing}
    kinds = {c: _kind(types[c]) for c in cols}
    cents = [
        f'sum(CAST(round(CAST("{c}" AS DOUBLE) * 100) AS HUGEINT))'
        for c in cols if kinds[c] == "num"
    ]
    row = "concat_ws(chr(31), " + ", ".join(_norm(c, kinds[c]) for c in cols) + ")"
    sql = (
        f"SELECT count(*), sum(CAST(hash({row}) AS HUGEINT)) "
        + "".join(f", {e}" for e in cents)
        + f" FROM {relation}"
    )
    n, h, *totals = con.execute(sql).fetchone()
    return {
        "rows": n,
        "cents": dict(zip([c for c in cols if kinds[c] == "num"], [int(t or 0) for t in totals])),
        "hash": int(h or 0),
    }


def parquet_dir(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def compare(got: dict, want: dict) -> list[str]:
    """Human-readable differences between two digests (empty = match)."""
    if "missing_columns" in got:
        return [f"missing columns {got['missing_columns']}"]
    problems = []
    if got["rows"] != want["rows"]:
        problems.append(f"rows {got['rows']} != {want['rows']}")
    for c, v in want["cents"].items():
        if got["cents"].get(c) != v:
            problems.append(f"control total {c} {got['cents'].get(c)} != {v} cents")
    if got["hash"] != want["hash"]:
        problems.append("value hash differs")
    return problems


class Oracle:
    """Runs oracle SQL once and checks engine outputs against it."""

    def __init__(self, con):
        self.con = con
        self._n = 0

    def materialize(self, sql: str) -> str:
        """Run ``sql`` into a temp table; returns the table name."""
        self._n += 1
        name = f"oracle_{self._n}"
        self.con.execute(f"CREATE TEMP TABLE {name} AS {sql}")
        return name

    def check(self, relation: str, oracle_table: str, where: str = "") -> list[str]:
        cols = list(columns(self.con, oracle_table))
        want = digest(self.con, f"(SELECT * FROM {oracle_table} {where})", cols)
        got = digest(self.con, f"(SELECT * FROM {relation} {where})", cols)
        return compare(got, want)
