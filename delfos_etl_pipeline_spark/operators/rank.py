"""Distributed global/per-key ranking without a single-task window."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delfos_etl_pipeline_spark.operators.prefix import prefix_scan


def distributed_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    key_cols: Sequence[str] = (),
    rank_col: str = "rn",
) -> DataFrame:
    """Add ``rank_col`` = exact 1-based rank by ``order_cols`` within
    each ``key_cols`` group (global when no keys): the running count
    from ``operators/prefix.py::prefix_scan``. ``order_cols`` (with
    ``key_cols``) must totally order rows for the rank to be
    deterministic."""
    return prefix_scan(df, order_cols, {rank_col: F.lit(1)}, key_cols)
