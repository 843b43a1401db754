"""Correctness gate: each batch query's output against its DuckDB oracle
twin on the same generated tables, compared as order-insensitive typed
rows (``5 != 5.0``, ``True != 1``, dates equal to midnight timestamps).
Runs outside the timed window."""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

from datagen import row_counts


def _norm(v):
    if isinstance(v, np.ndarray):
        v = v.tolist()
    elif isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NA or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "isoformat"):
        # DuckDB DATE surfaces as a midnight timestamp, Spark's as a date
        return v.isoformat().removesuffix("T00:00:00")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _typed(v):
    """Value plus a type tag, so equal numbers of different types differ."""
    if isinstance(v, tuple):
        return ("tuple", tuple(_typed(x) for x in v))
    tag = "bool" if isinstance(v, bool) else "float" if isinstance(v, float) else type(v).__name__
    return (tag, v)


def canonical(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [tuple(_typed(_norm(v)) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    rows.sort(key=repr)
    return cols, rows


def mismatch(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns differ: {sorted(spark_df.columns)} vs {sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"row count differs: {len(spark_df)} vs {len(oracle_df)}"
    (_, a), (_, b) = canonical(spark_df), canonical(oracle_df)
    bad = sum(x != y for x, y in zip(a, b))
    return f"{bad} rows differ" if bad else None


def check_batch(results: dict[str, pd.DataFrame], oracles: dict[str, str], data_dir: str) -> dict[str, str]:
    """``{query: reason}`` for every wrong result. Queries without an
    oracle get a rows-only check: the output must have at least one row."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in row_counts():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    wrong = {}
    for name, got in results.items():
        if name not in oracles:
            if len(got) == 0:
                wrong[name] = "no rows (rows-only check)"
            continue
        try:
            reason = mismatch(got, con.execute(oracles[name]).fetchdf())
        except Exception as e:  # an oracle that cannot run is a failed check
            reason = f"oracle error: {e}"
        if reason:
            wrong[name] = reason
    con.close()
    return wrong
