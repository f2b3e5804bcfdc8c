"""Output checks: DuckDB-oracle parity for catalog queries and exact
table comparison for the commit cycle. Run outside timed regions."""

from __future__ import annotations

import math
from collections import Counter
from datetime import datetime

import duckdb
import pandas as pd


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return "0.0" if v == 0.0 else repr(v)
    if isinstance(v, (pd.Timestamp, datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "tolist"):
        return _canon(v.tolist())
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def _rows(pdf: pd.DataFrame) -> Counter:
    pdf = pdf[sorted(pdf.columns)]
    return Counter(
        tuple(_canon(v) for v in row) for row in pdf.itertuples(index=False, name=None)
    )


def oracle_mismatch(spark_pdf: pd.DataFrame, oracle_sql: str, data_dir: str, tables) -> str | None:
    """None when the Spark result equals the DuckDB oracle's result on
    the same parquet files (columns, row count and the multiset of
    exactly rendered values); otherwise a one-line reason."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        duck = con.sql(oracle_sql).df()
    finally:
        con.close()
    if sorted(spark_pdf.columns) != sorted(duck.columns):
        return f"columns {sorted(spark_pdf.columns)} != oracle {sorted(duck.columns)}"
    if len(spark_pdf) != len(duck):
        return f"{len(spark_pdf)} rows != oracle {len(duck)}"
    if _rows(spark_pdf) != _rows(duck):
        return "values differ from oracle"
    return None


def close(a: float | None, b: float | None, rel: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)
