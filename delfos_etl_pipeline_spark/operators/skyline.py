"""2-D skyline (Pareto frontier) — minimize both dimensions.

The preference-query classic (Börzsönyi et al., ICDE'01: "The Skyline
Operator"): keep every row not DOMINATED by another (dominated = other
row ≤ in both dims, < in at least one).

Scale shape — the sort-based 2-D algorithm distributed with the same
two-phase prefix-scan machinery as text/curation.py's token-budget
sampler, with MIN as the monoid instead of SUM:

1. collapse to per-x minima (groupBy x — distinct-x cardinality, tiny
   relative to rows);
2. range-partition by x, per-partition EXCLUSIVE running min of y via a
   partition-local window (never a global single-partition window);
3. per-partition base minima: |partitions| scalars collected and
   prefix-combined on the driver — the driver touches |partitions|
   rows, never data;
4. a skyline x-group is one whose ymin beats the exclusive prefix min;
   rows re-join on (x, ymin) — equality join, broadcastable frontier.

A point at x is dominated by any earlier-x point with y' ≤ y (strict in
x), and within its own x-group by any strictly smaller y — hence the
per-x min plus STRICT comparison against the exclusive prefix min.
Duplicate (x, ymin) rows are mutually non-dominated and all kept, which
matches the dominance definition (no strict dimension between them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from delfos_etl_pipeline_spark.session import local_frame


def skyline_min2(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Rows of ``df`` on the (minimize x, minimize y) Pareto frontier."""
    spark = df.sparkSession
    g = df.groupBy(F.col(x_col).alias("_x")).agg(F.min(y_col).alias("_ymin"))
    n_parts = spark.sparkContext.defaultParallelism
    part = g.repartitionByRange(n_parts, F.col("_x"))
    local = part.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_mloc",
        F.min("_ymin").over(
            Window.partitionBy("_pid")
            .orderBy("_x")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
    )
    # PERSIST before the base-minima collect: the relation is consumed
    # twice (bases, then the frontier filter), and spark_partition_id() /
    # range-boundary sampling may differ between two evaluations — bases
    # from one partitioning must never be applied to a re-evaluated other
    # (same hazard as text/curation.py _global_prefix_sum).
    local = local.persist()
    totals = sorted(
        (r["_pid"], r["_tot"])
        for r in local.groupBy("_pid").agg(F.min("_ymin").alias("_tot")).collect()
    )
    base, offsets = None, []
    for pid, tot in totals:
        offsets.append((pid, base))
        if base is None or (tot is not None and tot < base):
            base = tot
    y_type = df.schema[y_col].dataType
    off = local_frame(
        spark,
        offsets,
        StructType(
            [
                StructField("_pid", IntegerType(), False),
                StructField("_base", y_type, True),
            ]
        ),
    )
    # least() ignores NULLs, so partition 0 (NULL base) and in-partition
    # first rows (NULL _mloc) fall through to whichever bound exists.
    frontier = (
        local.join(F.broadcast(off), "_pid")
        .withColumn("_mex", F.least("_mloc", "_base"))
        .where(F.col("_mex").isNull() | (F.col("_ymin") < F.col("_mex")))
        .select("_x", "_ymin")
    )
    return df.join(
        F.broadcast(frontier),
        (F.col(x_col) == F.col("_x")) & (F.col(y_col) == F.col("_ymin")),
    ).drop("_x", "_ymin")
