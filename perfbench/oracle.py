"""DuckDB side of the output checks: views over a run's generated
parquet inputs and an order-insensitive, tolerance-aware comparison of
Spark rows against DuckDB rows."""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def connect(data_dir: str, tables=STAR_TABLES) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    try:
        import numpy as np

        if isinstance(v, np.generic):
            return _norm(v.item())
    except ImportError:
        pass
    return str(v)


def _sort_key(row):
    out = []
    for v in row:
        if v is None:
            out.append((0, ""))
        elif isinstance(v, (int, float)) and not isinstance(v, bool):
            out.append((1, "nan" if v != v else f"{float(v):.9g}"))
        else:
            out.append((2, str(v)))
    return out


def canonical(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=_sort_key
    )


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare(sp_cols, sp_rows, du_cols, du_rows) -> str | None:
    """None when equal as multisets (column order ignored), else why."""
    if sorted(sp_cols) != sorted(du_cols):
        return f"columns spark={sorted(sp_cols)} duckdb={sorted(du_cols)}"
    a, b = canonical(list(sp_cols), sp_rows), canonical(list(du_cols), du_rows)
    if len(a) != len(b):
        return f"row count spark={len(a)} duckdb={len(b)}"
    for ra, rb in zip(a, b):
        if not all(_same(x, y) for x, y in zip(ra, rb)):
            return f"first differing row spark={ra} duckdb={rb}"
    return None


def run_sql(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()
