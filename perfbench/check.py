"""Output correctness: order-independent digests compared with the DuckDB twin.

Every timed output is compared, outside the timed window, with the oracle
SQL the repository already keeps beside each operator (geocode_spark.oracle
and the *_sql functions of geocode_spark.operators.spatial).
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pandas as pd


def _cell(v):
    if v is None or v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):
        return v.item()  # numpy scalar -> the Python value it holds
    return v


def digest(pdf: pd.DataFrame) -> str:
    """sha256 over the sorted per-row hashes: independent of row and column
    order, sensitive to every value, the column names and the row count."""
    cols = sorted(pdf.columns)
    rows = sorted(
        hashlib.sha1(repr(tuple(_cell(v) for v in row)).encode()).digest()
        for row in zip(*(pdf[c].tolist() for c in cols))
    )
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r)
    return h.hexdigest()


def oracle_frame(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        return con.sql(sql).df()
    finally:
        con.close()
