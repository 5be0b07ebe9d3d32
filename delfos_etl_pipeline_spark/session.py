"""SparkSession factory with scale-ready defaults.

The reference (yurimags/Delfos-ETL-Pipeline) delegates all execution to
Postgres + pandas (SURVEY.md §4); here Catalyst/Tungsten/AQE replace that.
Defaults are tuned so the same code path works from sf0.001 local tests up
to a multi-executor cluster: AQE handles runtime partition coalescing and
skew joins, Arrow accelerates any pandas interop, and nanosecond parquet
timestamps (unsupported natively by Spark) are read as longs and normalized
by the source adapter (see sources/parquet.py).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

# Configs that must be set before the JVM starts.
_STARTUP_CONF: dict[str, str] = {
    # Naive/NTZ timestamps everywhere (reference uses tz-naive TIMESTAMP,
    # /root/reference/database/init_fonte.sql:6); pin UTC so date functions
    # are deterministic across environments.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-optimization: partition coalescing, skew-join splitting,
    # dynamic join-strategy switch. Essential at 100 TB, harmless at sf0.001.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # By default Spark pins cached-plan output partitioning, which disables
    # AQE partition coalescing under .persist() — the dedup/LSH pipelines
    # cache intermediates, so allow AQE to re-plan them too.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # The driver testdata's `events.ts` is parquet TIMESTAMP(NANOS) which
    # Spark cannot read natively; read as long and let the source adapter
    # convert (truncate) to microsecond timestamps.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # MIN/MAX/COUNT pushdown straight to parquet footers.
    "spark.sql.parquet.aggregatePushdown": "true",
    # Arrow for toPandas / pandas UDF exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def get_spark(
    app_name: str = "delfos-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when the env var is
    set, else Spark's own default. ``shuffle_partitions`` should be sized to
    the data: ~2-4x total cores locally; on a real cluster leave Spark/AQE
    defaults (AQE coalesces down from a high initial number).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus:
            master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_STARTUP_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable, schema: str | StructType
) -> DataFrame:
    """A small frame built from driver ``rows`` that plans as a JVM
    ``LocalRelation`` / ``LocalTableScan``: the rows cross to the JVM in
    Arrow batches, so scanning (and broadcasting) the frame runs no
    Python worker. ``spark.createDataFrame(rows, schema)`` instead plans a
    ``Scan ExistingRDD`` whose every evaluation — each broadcast build of
    a lookup table — is a Python-worker task per core.

    Use it for broadcast lookup frames assembled on the driver (dims,
    offsets, thresholds, model tables). Keep data-sized frames and query
    output on ``createDataFrame``: a LocalRelation is held in the
    driver's plan, and a 300k-row one took 1.97 s to count against
    0.55 s through the RDD path.

    The result equals ``spark.createDataFrame(rows, schema)``: same
    schema (``schema`` is a DDL string or a ``StructType``), same rows,
    same type verification. Values are converted by the Spark types'
    own ``toInternal``, so a naive ``datetime`` in a ``timestamp`` column
    is read as process-local time, exactly as ``createDataFrame(rows)``
    reads it (an aware one by its own offset) — a timestamp collected
    from Spark round-trips under any ``TZ``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _make_type_verifier

    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    verify = _make_type_verifier(struct)
    internal = []
    for row in rows:
        verify(row)
        internal.append(struct.toInternal(row))
    columns = list(zip(*internal)) or [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [
            pa.array(list(col), type=to_arrow_type(f.dataType))
            for col, f in zip(columns, struct.fields)
        ],
        names=struct.names,
    )
    return spark.createDataFrame(table, schema=struct)
