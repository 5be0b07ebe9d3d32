"""Distributed global/per-key ranking without a single-task window.

``row_number() OVER (ORDER BY ...)`` with no (or a low-cardinality)
PARTITION BY is the classic scale trap: Spark funnels every row through
one task (or |keys| tasks). This helper assigns the exact same 1-based
ranks with the repo's two-phase prefix-count idiom (token-budget /
skyline / abc_pareto pattern):

1. ``repartitionByRange`` on (keys + order columns) — contiguous slices
   of the global sort order, parallel by the partition count;
2. per-(partition, key) row counts collected to the driver — a
   |partitions| x |keys| scalar table, never data rows;
3. rank = broadcast base offset + per-partition local ``row_number``
   keyed by ``spark_partition_id`` — as many window keys as partitions,
   so the expensive pass scales with the cluster, not the key space.

The partitioned relation is persisted BEFORE the count collect: the
two consumptions (offsets, ranked output) must see identical partition
boundaries or ranks shift by a partition (the off-by-a-partition
contract from the curation prefix scans).

Correctness does not depend on where range boundaries land: the sort
key totally orders rows (callers must pass a tie-breaking order), so
offset + local rank is the exact global rank for ANY boundary
placement.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delfos_etl_pipeline_spark.session import local_frame


def distributed_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    key_cols: Sequence[str] = (),
    num_partitions: int = 32,
    rank_col: str = "rn",
) -> DataFrame:
    """Add ``rank_col`` = exact 1-based rank by ``order_cols`` within
    each ``key_cols`` group (global when no keys), computed with
    partition-count parallelism. ``order_cols`` (with ``key_cols``)
    must totally order rows for the rank to be deterministic."""
    range_cols = [*key_cols, *order_cols]
    parts = (
        df.repartitionByRange(num_partitions, *[F.col(c) for c in range_cols])
        .sortWithinPartitions(*[F.col(c) for c in range_cols])
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = parts.groupBy("_pid", *key_cols).count().collect()

    def _key(row) -> tuple:
        return tuple(row[c] for c in key_cols)

    offsets: dict[tuple, int] = {}
    seen: dict[tuple, int] = {}
    for row in sorted(counts, key=lambda r: (_key(r), r["_pid"])):
        k = _key(row)
        offsets[(row["_pid"], k)] = seen.get(k, 0)
        seen[k] = seen.get(k, 0) + row["count"]

    off_schema = T.StructType(
        [T.StructField("_pid", T.IntegerType())]
        + [df.schema[c] for c in key_cols]
        + [T.StructField("_off", T.LongType())]
    )
    off_df = local_frame(
        df.sparkSession,
        [(pid, *k, off) for (pid, k), off in offsets.items()],
        off_schema,
    )
    wloc = Window.partitionBy("_pid", *key_cols).orderBy(*order_cols)
    return (
        parts.withColumn("_lrn", F.row_number().over(wloc))
        .join(F.broadcast(off_df), ["_pid", *key_cols])
        .withColumn(rank_col, (F.col("_off") + F.col("_lrn")).cast("bigint"))
        .drop("_pid", "_lrn", "_off")
    )
