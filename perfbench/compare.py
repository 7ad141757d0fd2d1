"""Result comparators: engine rows against the DuckDB oracle.

Rows are compared by column name, as multisets unless the query fixes
an order. Floats match within a relative 1e-9 (sums of doubles may be
added in another order); everything else must be equal. Timestamps
compare by their naive ISO text, so a timezone-aware value from one
engine equals the same UTC instant from the other.
"""

from __future__ import annotations

import math
from datetime import date, datetime, timezone
from decimal import Decimal

REL_TOL = 1e-9


def norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def _key(v):
    # sort key that never compares across types
    return (type(v).__name__, repr(v) if not isinstance(v, (int, float)) else v)


def values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
        return False
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    return a == b


def rows_by_name(cols, rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(norm(r[i]) for i in order) for r in rows]


def compare_rows(a_cols, a_rows, b_cols, b_rows, ordered: bool = False) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(a_cols) != sorted(b_cols):
        return f"columns differ: {sorted(a_cols)} vs {sorted(b_cols)}"
    if len(a_rows) != len(b_rows):
        return f"row counts differ: {len(a_rows)} vs {len(b_rows)}"
    a = rows_by_name(a_cols, a_rows)
    b = rows_by_name(b_cols, b_rows)
    if not ordered:
        a = sorted(a, key=lambda r: tuple(_key(x) for x in r))
        b = sorted(b, key=lambda r: tuple(_key(x) for x in r))
    for i, (ra, rb) in enumerate(zip(a, b)):
        if not values_equal(ra, rb):
            return f"row {i} differs: {ra} vs {rb}"
    return None


def duckdb_connect(table_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return con


def duckdb_rows(con, sql: str):
    rel = con.sql(sql)
    return rel.columns, rel.fetchall()


class Oracle:
    """DuckDB answers over the fixed input tables, each computed once per
    run and cached in memory."""

    def __init__(self, table_dir: str, tables):
        self.table_dir, self.tables = table_dir, list(tables)
        self.con = None
        self.mem: dict[str, tuple] = {}

    def rows(self, sql: str):
        if sql not in self.mem:
            if self.con is None:
                self.con = duckdb_connect(self.table_dir, self.tables)
            self.mem[sql] = duckdb_rows(self.con, sql)
        return self.mem[sql]

    def close(self):
        if self.con is not None:
            self.con.close()
