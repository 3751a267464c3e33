"""Order-insensitive comparison of a Spark result with its DuckDB oracle.

Both sides become lists of rows with values normalised to plain Python
types (timestamps to microseconds, dates to datetimes, numpy scalars to
Python numbers, arrays to tuples); the lists are sorted with a total key and
compared exactly, the way the registry's parity contract requires.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import duckdb

from kiji_scoring_spark.sources import TABLES


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # Spark runs with a UTC session time zone; so must the oracle
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm(v):
    if v is None:
        return None
    if hasattr(v, "item") and not isinstance(v, (list, tuple, dict)):  # numpy scalar
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, bool) or isinstance(v, int):
        return int(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day)
    if hasattr(v, "asDict"):  # a Spark Row is a tuple: compare it by field name
        v = v.asDict()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)) or (hasattr(v, "tolist") and not isinstance(v, str)):
        return tuple(_norm(x) for x in (v.tolist() if hasattr(v, "tolist") else v))
    return v


def _key(row: tuple):
    # total order over mixed/None values: (is-None, type name, repr)
    return tuple((x is None, type(x).__name__, repr(x)) for x in row)


def rows_of_spark(df) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    return cols, [tuple(_norm(r[c]) for c in cols) for r in df.select(*cols).collect()]


def rows_of_duckdb(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    return [names[i] for i in order], [tuple(_norm(r[i]) for i in order) for r in cur.fetchall()]


def same_rows(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str | None:
    """None when equal, else a one-line reason."""
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if len(got[1]) != len(want[1]):
        return f"row count {len(got[1])} != {len(want[1])}"
    a, b = sorted(got[1], key=_key), sorted(want[1], key=_key)
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"row {i}: {x!r} != {y!r}"
    return None
