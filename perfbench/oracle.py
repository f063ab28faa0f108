"""DuckDB oracle: runs a query's `SparkEntry.oracleSql` twin over the same
corpus and compares it with the Spark result the benchmark wrote, with the
canonical form of the program's `tools/local_verify.py`: columns sorted by
name, rows sorted by every column, integer widths interchangeable but
numeric kinds strict, values compared exactly."""
from __future__ import annotations

import math
import threading
from pathlib import Path

import duckdb
import pandas as pd

from corpus import TABLES


def connect(corpus: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = corpus / f"{t}.parquet"
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)) or hasattr(a, "__len__") and hasattr(a, "tolist"):
        la, lb = list(a), list(b)
        return len(la) == len(lb) and all(_equal(x, y) for x, y in zip(la, lb))
    a = a.tolist() if hasattr(a, "tolist") else a
    b = b.tolist() if hasattr(b, "tolist") else b
    return a == b


def _kind(dtype) -> str:
    return {"u": "i"}.get(dtype.kind, dtype.kind)


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> str | None:
    """None when the results match, else the first difference."""
    s, d = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns differ: {list(s.columns)} vs {list(d.columns)}"
    for c in s.columns:
        if _kind(s[c].dtype) != _kind(d[c].dtype):
            return f"column {c}: dtype kind {s[c].dtype} vs {d[c].dtype}"
    if len(s) != len(d):
        return f"row count {len(s)} vs {len(d)}"
    for c in s.columns:
        for i, (x, y) in enumerate(zip(s[c].tolist(), d[c].tolist())):
            if not _equal(x, y):
                return f"column {c} row {i}: {x!r} vs {y!r}"
    return None


def check_query(con, result_dir: str, sql: str, timeout_s: float = 20.0) -> str | None:
    spark_df = con.sql(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").df()
    timer = threading.Timer(timeout_s, con.interrupt)
    timer.start()
    try:
        duck_df = con.sql(sql).df()
    except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
        return f"oracle error: {str(e)[:200]}"
    finally:
        timer.cancel()
    return compare(spark_df, duck_df)


def readback_values(con, source: str) -> str:
    """The read-back aggregate over `source`, formatted as the JVM's row line."""
    row = con.sql(
        "SELECT count(*), sum(l_orderkey), sum(CAST(l_quantity AS DECIMAL(18,2))), "
        f"sum(CAST(l_extendedprice AS DECIMAL(22,2))) FROM read_parquet('{source}')").fetchone()
    return "|".join(str(x) for x in row)
