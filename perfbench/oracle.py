"""Compares each query's result, as Spark wrote it, with the query's
DuckDB oracle SQL run over the same generated tables.

Rows compare as multisets: both sides are canonicalised (columns by
name, timestamps to microseconds, decimals and integers to numbers,
nested values to tuples), sorted with doubles rounded, then matched
cell by cell with doubles at 1e-9 relative tolerance.
"""
import datetime as dt
import decimal
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "embeddings"]


def _cell(v):
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date, np.datetime64)):
        ts = pd.Timestamp(v)
        return ("ts", (ts.tz_localize(None) if ts.tzinfo else ts).value // 1000)
    if isinstance(v, (decimal.Decimal, np.floating)):
        return float(v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _cell(x)) for k, x in sorted(v.items()))
    return v


def _sort_key(row):
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, bool):
            return (1, str(v))
        if isinstance(v, (int, float)):
            return (2, float(f"{v:.6g}"))
        if isinstance(v, tuple):
            return (3, tuple(k(x) for x in v))
        return (4, str(v))
    return tuple(k(v) for v in row)


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1.0)
    return a == b


def _rows(df: pd.DataFrame):
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r)
            for r in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=_sort_key)


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> str:
    """Empty string when the results match, else the first difference."""
    sc, sr = _rows(spark_df)
    dc, dr = _rows(duck_df)
    if sc != dc:
        return f"columns differ: spark={sc} duckdb={dc}"
    if len(sr) != len(dr):
        return f"row count differs: spark={len(sr)} duckdb={len(dr)}"
    for i, (a, b) in enumerate(zip(sr, dr)):
        if not _same(a, b):
            return f"row {i} differs: spark={a} duckdb={b}"
    return ""


def check(tables_dir: str, results_dir: str) -> dict:
    """Map of query name to '' (match) or a difference."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = {}
    for name in sorted(os.listdir(results_dir)):
        qdir = os.path.join(results_dir, name)
        if not os.path.isdir(qdir):
            continue
        if name not in oracles:
            out[name] = "no oracle SQL"
            continue
        files = sorted(os.path.join(qdir, f) for f in os.listdir(qdir)
                       if f.endswith(".parquet"))
        spark_df = pq.ParquetDataset(files).read().to_pandas() if files else None
        try:
            duck_df = con.execute(oracles[name]).arrow().to_pandas()
        except Exception as e:  # noqa: BLE001 - report, don't abort the run
            out[name] = f"oracle failed: {e}"
            continue
        if spark_df is None:
            out[name] = "" if len(duck_df) == 0 else "spark wrote no rows"
            continue
        out[name] = compare(spark_df, duck_df)
    return out
