"""Result checking against DuckDB, run outside the timed process.

Rows are compared as multisets: both sides are normalised (timestamps as
ISO text, decimals and booleans as floats), sorted on a coarse key, and
then compared pairwise, numbers within a relative 1e-9 so that two engines
summing doubles in different orders still agree.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math

import duckdb

REL_TOL = 1e-9


def _norm(v):
    if isinstance(v, bool):
        return float(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _norm(x)) for k, x in sorted(v.items()))
    return v


def _key(v):
    """Sort key: numbers coarsened so engine rounding cannot reorder rows."""
    if v is None:
        return (0, "")
    if isinstance(v, (int, float)):
        return (1, f"{float(v):.6g}")
    if isinstance(v, tuple):
        return (2, tuple(_key(x) for x in v))
    return (3, str(v))


def _same(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def canonical(rows, order: list[int] | None = None) -> list[tuple]:
    out = []
    for r in rows:
        r = list(r) if order is None else [r[i] for i in order]
        out.append(tuple(_norm(v) for v in r))
    return sorted(out, key=lambda r: tuple(_key(v) for v in r))


def diff(got_rows, want_rows, got_cols=None, want_cols=None) -> str | None:
    """None when the two row sets agree, else a one-line reason. With column
    names given, columns are matched by lower-cased name, not position."""
    go = wo = None
    if got_cols is not None and want_cols is not None:
        g, w = [c.lower() for c in got_cols], [c.lower() for c in want_cols]
        if sorted(g) != sorted(w):
            return f"columns differ: {sorted(g)} vs {sorted(w)}"
        go = sorted(range(len(g)), key=lambda i: g[i])
        wo = sorted(range(len(w)), key=lambda i: w[i])
    if len(got_rows) != len(want_rows):
        return f"row count {len(got_rows)} vs {len(want_rows)}"
    for a, b in zip(canonical(got_rows, go), canonical(want_rows, wo)):
        if len(a) != len(b) or not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {a!r} vs {b!r}"[:300]
    return None


def jsonable(v):
    """A value in a form JSON keeps and ``diff`` reads back the same."""
    v = _norm(v)
    if isinstance(v, tuple):
        return [jsonable(x) for x in v]
    return v


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"threads": 4})
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def query(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()
