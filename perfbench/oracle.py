"""Differential result checks against DuckDB.

The comparison is the one the engine's certification uses: same column
names, same row count, and equal multisets of rows after every value is
rendered to a canonical string (floats by the repr of their float64
bits, so a match means bit-identical doubles).
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter

import duckdb
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # One thread: the checks run between timed operations and must not
    # leave DuckDB worker threads competing with Spark.
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _canon(v) -> str:
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, float):
        return "∅" if math.isnan(v) else repr(float(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, dt.datetime):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canonical_rows(df: pd.DataFrame) -> Counter:
    """Order-insensitive multiset of canonical rows, columns by name."""
    df = df[sorted(df.columns)]
    return Counter(tuple(_canon(v) for v in row)
                   for row in df.itertuples(index=False, name=None))


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Mismatch descriptions; empty when the frames match."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns differ: got={sorted(got.columns)} "
                f"want={sorted(want.columns)}"]
    a, b = canonical_rows(got), canonical_rows(want)
    issues = []
    if len(got) != len(want):
        issues.append(f"row count differs: got={len(got)} want={len(want)}")
    if a != b:
        only_a = list((a - b).keys())[:2]
        only_b = list((b - a).keys())[:2]
        issues.append(f"values differ: got-only={only_a} want-only={only_b}")
    return issues
