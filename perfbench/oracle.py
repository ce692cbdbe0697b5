"""Order-insensitive comparison of a Spark result with DuckDB.

Both sides are rendered to canonical rows: columns sorted by name, every
cell rendered to a string (NULL, NaN and NaT alike as ``NULL``;
integer-valued floats as integers, because DuckDB hands nullable integer
columns to pandas as floats), rows sorted.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb
import numpy as np
import pandas as pd


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        return str(int(f)) if f.is_integer() and abs(f) < 2**53 else repr(f)
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    return str(v)


def canonical(pdf: pd.DataFrame) -> tuple[list[str], list[tuple[str, ...]]]:
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return cols, rows


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the two frames hold the same rows, else what differs."""
    gcols, grows = canonical(got)
    wcols, wrows = canonical(want)
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if len(grows) != len(wrows):
        return f"row count {len(grows)} != {len(wrows)}"
    for i, (g, w) in enumerate(zip(grows, wrows)):
        if g != w:
            return f"sorted row {i}: {g} != {w}"
    return None


def connect(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con
