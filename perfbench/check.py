"""Output checks: an order-insensitive value digest that reads a Spark
``toPandas`` frame and a DuckDB ``fetchall`` result the same way.

Columns are taken in name order and rows are sorted before hashing, as
in the correctness driver. Numbers are compared at 10 significant
digits whatever their width, because ``toPandas`` widens an integer
column that holds NULLs to float64; NULL, NaN and NaT are one value.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import numpy as np


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        f = float(f"{f:.10g}")
        return f"{0.0 if f == 0.0 else f:.10g}"
    if isinstance(v, dt.datetime):
        if v != v:  # pandas NaT is a datetime
            return "NULL"
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    try:
        if v != v:  # pd.NA and friends
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()[:16]


def frame_digest(pdf) -> tuple[int, str]:
    return digest(list(pdf.columns), pdf.itertuples(index=False, name=None))


def oracle_digest(con, sql: str) -> tuple[int, str]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())


def duckdb_on(sf_dir: str, tables):
    """A DuckDB connection with one view per fixture table."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con
