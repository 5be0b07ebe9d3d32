"""2-D skyline (Pareto frontier) — minimize both dimensions.

The preference-query classic (Börzsönyi et al., ICDE'01: "The Skyline
Operator"): keep every row not DOMINATED by another (dominated = other
row ≤ in both dims, < in at least one).

Scale shape: collapse to per-x minima (distinct-x cardinality), take
the EXCLUSIVE running min of y over x with
``operators/prefix.py::prefix_scan``, keep the x-groups whose ymin beats
it, and re-join rows on (x, ymin) — an equality join against a
broadcastable frontier.

A point at x is dominated by any earlier-x point with y' ≤ y (strict in
x), and within its own x-group by any strictly smaller y — hence the
per-x min plus STRICT comparison against the exclusive prefix min.
Duplicate (x, ymin) rows are mutually non-dominated and all kept, which
matches the dominance definition (no strict dimension between them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delfos_etl_pipeline_spark.operators.prefix import prefix_scan


def skyline_min2(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Rows of ``df`` on the (minimize x, minimize y) Pareto frontier.
    Rows with a NULL x or y are never on it."""
    # NULL-x groups never join back, and Spark sorts them first, where
    # their minimum would bound every later group.
    g = (
        df.where(F.col(x_col).isNotNull())
        .groupBy(F.col(x_col).alias("_x"))
        .agg(F.min(y_col).alias("_ymin"))
    )
    frontier = (
        prefix_scan(g, ["_x"], {"_mex": "_ymin"}, agg="min", exclusive=True)
        .where(F.col("_mex").isNull() | (F.col("_ymin") < F.col("_mex")))
        .select("_x", "_ymin")
    )
    return df.join(
        F.broadcast(frontier),
        (F.col(x_col) == F.col("_x")) & (F.col(y_col) == F.col("_ymin")),
    ).drop("_x", "_ymin")
