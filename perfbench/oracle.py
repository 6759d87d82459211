"""Output checks: Spark results against DuckDB recomputations.

Rows are compared order-insensitively with columns sorted by name, the
way the registry's oracle parity is checked. Doubles are compared to 12
significant digits, which absorbs summation-order residue but not a
wrong answer.
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime

import duckdb
import pandas as pd


def duck_for(dataset_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``<table>.parquet`` in
    ``dataset_dir`` (single files or Spark-written directories)."""
    con = duckdb.connect()
    for entry in sorted(os.listdir(dataset_dir)):
        if not entry.endswith(".parquet"):
            continue
        path = os.path.join(dataset_dir, entry)
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(
            f"CREATE VIEW {entry[:-8]} AS SELECT * FROM read_parquet('{pattern}')"
        )
    return con


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "null"
    if hasattr(v, "item") and not isinstance(v, (pd.Timestamp, datetime)):
        v = v.item()  # numpy scalar → Python scalar
    if isinstance(v, float):
        return "null" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, (pd.Timestamp, datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return repr(v)


def canonical(pdf: pd.DataFrame) -> list[tuple]:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return sorted(tuple(_cell(v) for v in row) for row in pdf.itertuples(index=False))


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} rows"
    for a, b in zip(canonical(got), canonical(want)):
        if a != b:
            return f"row {a} != {b}"
    return None


def check(got: pd.DataFrame, con: duckdb.DuckDBPyConnection, sql: str) -> str | None:
    return compare_frames(got, con.execute(sql).fetchdf())
