"""Differential check of a query result against its DuckDB oracle SQL.

The comparison is order-insensitive on rows and matches columns by name:
the same row count and column names, floats equal within a relative 1e-9,
everything else equal as text, NULLs equal only to NULLs. It follows
``tools/check_oracle.py`` but lives here, so that editing the repository's
tools cannot change what the benchmark accepts as a correct result.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object and s.notna().any():
            first = s.dropna().iloc[0]
            if isinstance(first, (pd.Timestamp, np.datetime64)) or hasattr(first, "isoformat"):
                df[c] = pd.to_datetime(s).astype("datetime64[us]")
    key = df.copy()
    for c in key.columns:
        if pd.api.types.is_float_dtype(key[c]):
            key[c] = key[c].round(9)
    order = key.astype(str).sort_values(by=list(key.columns), kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    if len(got) != len(want):
        return False, f"rows {len(got)} != oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    a, b = _canon(got), _canon(want)
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            xv, yv = x.astype(float).to_numpy(), y.astype(float).to_numpy()
            same = np.isclose(xv, yv, rtol=1e-9, atol=1e-12, equal_nan=True)
        else:
            xs = np.where(x.isna().to_numpy(), "<NULL>", x.astype(str).to_numpy())
            ys = np.where(y.isna().to_numpy(), "<NULL>", y.astype(str).to_numpy())
            same = xs == ys
        if not same.all():
            return False, f"column {c}: {int((~same).sum())} values differ"
    return True, "exact"


class OracleChecker:
    """A DuckDB connection with one view per table of a parquet directory."""

    def __init__(self, sf_dir: str, tables):
        self.sf_dir = sf_dir
        self.tables = tables

    def __enter__(self):
        self.con = duckdb.connect()
        for t in self.tables:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return self

    def __exit__(self, *exc):
        self.con.close()
        return False

    def compare(self, got: pd.DataFrame, sql: str) -> tuple[bool, str]:
        return compare(got, self.con.execute(sql).df())
