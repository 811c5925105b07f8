"""DuckDB answers over the same parquet, and result comparison."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

REL_TOL = 1e-9


def connect(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(data_dir, t + '.parquet')}')")
    return con


def query(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def norm(v):
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return None if isinstance(v, float) and math.isnan(v) else float(v)
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None).isoformat()
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, str):
        try:
            return float(decimal.Decimal(v))
        except decimal.InvalidOperation:
            return v
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return str(v)


def _key(row):
    return tuple((x is None, type(x).__name__, x if x is not None else 0) for x in row)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got, want) -> bool:
    """Equal as multisets of rows, floats within ``REL_TOL``."""
    g = sorted((tuple(norm(v) for v in r) for r in got), key=_key)
    w = sorted((tuple(norm(v) for v in r) for r in want), key=_key)
    return len(g) == len(w) and all(
        len(x) == len(y) and all(_same(a, b) for a, b in zip(x, y)) for x, y in zip(g, w))
