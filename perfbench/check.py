"""Output checks: batch queries against their DuckDB oracle, streaming
state against the feed it was built from.

A batch query passes when its row count, column names and an
order-insensitive digest of its values equal those of the registry's
``ORACLE_SQL`` entry evaluated by DuckDB over the same generated parquet
files. Values are normalized the way the engine's oracle harness does:
columns in name order, floats rounded to 9 decimals, rows sorted.
"""

from __future__ import annotations

import hashlib
import math
import os
from decimal import Decimal

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def digest(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, order-insensitive value digest) of a result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted((repr(tuple(_cell(r[i]) for i in order)) for r in rows))
    h = hashlib.sha256("|".join(sorted(columns)).encode())
    for line in norm:
        h.update(line.encode())
        h.update(b"\n")
    return len(norm), h.hexdigest()


class Oracle:
    """DuckDB over the generated tables; digests are computed once per
    query and reused by every later check of that query."""

    def __init__(self, data_dir: str, oracle_sql: dict[str, str]):
        self.con = duckdb.connect(config={"threads": 4})
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.sql = oracle_sql
        self._digests: dict[str, tuple[int, str]] = {}

    def expected(self, name: str) -> tuple[int, str]:
        if name not in self._digests:
            rel = self.con.sql(self.sql[name])
            self._digests[name] = digest(list(rel.columns), rel.fetchall())
        return self._digests[name]

    def check(self, name: str, columns: list[str], rows: list[tuple]) -> str | None:
        """None when the result matches the oracle, else a one-line reason."""
        got = digest(columns, rows)
        want = self.expected(name)
        if got == want:
            return None
        return f"{name}: rows {got[0]} vs oracle {want[0]}, digest {'equal' if got[1] == want[1] else 'differs'}"

    def close(self) -> None:
        self.con.close()


def latest_per_key(event_files: list[str]) -> dict[int, tuple]:
    """Expected CDC state: for each user_id, the row with the greatest ts
    over the whole feed (the generated feed never repeats a ts)."""
    files = ", ".join(f"'{p}'" for p in event_files)
    rows = duckdb.sql(
        f"SELECT user_id, arg_max(event_id, ts) FROM read_parquet([{files}]) GROUP BY user_id"
    ).fetchall()
    return {int(u): int(e) for u, e in rows}
