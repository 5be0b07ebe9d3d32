"""Exact running aggregates over a total order, without a single-task
window — the one two-phase prefix scan of the package.

``sum(v) OVER (PARTITION BY keys ORDER BY order ROWS UNBOUNDED PRECEDING)``
with no (or a low-cardinality) PARTITION BY funnels every row through one
task (or |keys| tasks). ``prefix_scan`` returns the same values in two
phases:

1. ``repartitionByRange`` on (keys + order) gives contiguous slices of
   the sort order, and a running window keyed by
   (``spark_partition_id``, keys) scans each slice in parallel;
2. per-(partition, key) totals — a |partitions| x |keys| table, never
   data rows — are collected, folded on the driver with the monoid into
   each slice's offset, and broadcast-joined back onto the running value.

The result does not depend on where range boundaries fall, so callers
only need ``order_cols`` (with ``key_cols``) to order rows totally.

Offsets could in principle be computed inside the plan (a window over
the totals aggregate), but Spark does not reuse the range exchange
between the totals branch and the data branch: each branch samples its
own boundaries, so offsets from one partitioning would be added to rows
of another. Hence the one persist below.
"""

from __future__ import annotations

import operator
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from delfos_etl_pipeline_spark.session import local_frame


def _add_offset(run: Column, off: Column) -> Column:
    return F.coalesce(run + off, run, off)


#: agg -> (Spark aggregate, driver combine of two non-NULL totals,
#: running value with its offset applied; either side may be NULL).
_AGGS = {
    "sum": (F.sum, operator.add, _add_offset),
    "min": (F.min, min, F.least),
}


def prefix_scan(
    df: DataFrame,
    order_cols: Sequence[str],
    values: Mapping[str, Column | str],
    key_cols: Sequence[str] = (),
    agg: str = "sum",
    exclusive: bool = False,
) -> DataFrame:
    """``df`` plus one column per ``values`` entry (output name → value
    column): the running ``agg`` ("sum" or "min") of the value over
    ``order_cols`` within each ``key_cols`` group, including the current
    row unless ``exclusive``. NULL values are skipped and an empty or
    all-NULL prefix gives NULL, exactly as the single window does; NULL
    keys form their own group."""
    win_fn, combine, add_offset = _AGGS[agg]
    spark = df.sparkSession
    outs = list(values)
    vals = [F.col(v) if isinstance(v, str) else v for v in values.values()]
    w = (
        Window.partitionBy("_pid", *key_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
    )
    local = df.repartitionByRange(
        spark.sparkContext.defaultParallelism, *key_cols, *order_cols
    ).withColumn("_pid", F.spark_partition_id())
    for i, v in enumerate(vals):
        local = local.withColumn(f"_run{i}", win_fn(v).over(w))
    # PERSIST before the totals collect: the relation is consumed twice
    # (totals, then the offset join), and spark_partition_id() and the
    # range boundaries may differ between two evaluations, which shifts
    # every later value by a partition's total.
    local = local.persist()
    totals = local.groupBy("_pid", *key_cols).agg(
        *[win_fn(v).alias(f"_tot{i}") for i, v in enumerate(vals)]
    )
    # Offset of (partition, key) = the monoid over all lower partitions'
    # totals for that key; None until a non-NULL total is seen.
    base: dict[tuple, list] = {}
    offsets = []
    for r in sorted(totals.collect(), key=lambda r: r["_pid"]):
        k = tuple(r[c] for c in key_cols)
        acc = base.get(k, [None] * len(vals))
        offsets.append((r["_pid"], *k, *acc))
        base[k] = [
            t if a is None else a if t is None else combine(a, t)
            for a, t in zip(acc, (r[f"_tot{i}"] for i in range(len(vals))))
        ]
    off = local_frame(
        spark,
        offsets,
        StructType(
            [StructField("_opid", totals.schema["_pid"].dataType)]
            + [
                StructField(f"_okey{j}", df.schema[c].dataType)
                for j, c in enumerate(key_cols)
            ]
            + [
                StructField(f"_off{i}", totals.schema[f"_tot{i}"].dataType)
                for i in range(len(vals))
            ]
        ),
    )
    on = local["_pid"] == off["_opid"]
    for j, c in enumerate(key_cols):
        on = on & local[c].eqNullSafe(off[f"_okey{j}"])
    out = local.join(F.broadcast(off), on)
    for i, oc in enumerate(outs):
        out = out.withColumn(
            oc, add_offset(F.col(f"_run{i}"), F.col(f"_off{i}"))
        )
    return out.drop(
        "_pid",
        "_opid",
        *[f"_okey{j}" for j in range(len(key_cols))],
        *[f"_run{i}" for i in range(len(vals))],
        *[f"_off{i}" for i in range(len(vals))],
    )
