"""M4 — Structured Streaming runner: the SAME windowed-agg operators under
a streaming source (SURVEY.md §2.9).

The reference is micro-batch-by-convention (daily cron partitions,
/root/reference/dagster/jobs.py:40-52) with append-only loads that
duplicate on re-run (T4). The streaming upgrade is additive:

- ``withWatermark`` bounds state for late data — the reference has no
  late-data story at all;
- ``dropDuplicates`` on (ts, key) within the watermark fixes T4 at the
  ingestion edge;
- ``trigger(availableNow=True)`` replaces cron: drain everything that has
  arrived, then stop — an orchestrator-free incremental batch.

The batch pipeline (plans/pipeline.py) and this runner share the
aggregation spec, so batch/stream parity is by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from delfos_etl_pipeline_spark.plans.pipeline import DEFAULT_STATS, STAT_SQL


def streaming_windowed_stats(
    stream: DataFrame,
    ts_col: str,
    measures: tuple[str, ...],
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    stats: tuple[str, ...] = DEFAULT_STATS,
    dedup_cols: tuple[str, ...] | None = None,
    stable: bool = False,
    slide: str | None = None,
) -> DataFrame:
    """A1 under streaming: watermark → (optional) dedup → tumbling window
    multi-agg. Output schema matches the batch ``windowed_stats``;
    ``stable=True`` uses the cross-engine hash-stable stat formulas
    (functions/stable.py), which are ordinary aggregate expressions and
    run identically under streaming. ``slide`` (< window) switches to
    HOPPING windows: each event lands in window/slide overlapping
    groups — state grows by the same factor, which the watermark still
    bounds (the state-size lever at scale is the slide ratio)."""
    s = stream.withWatermark(ts_col, watermark)
    if dedup_cols:
        s = s.dropDuplicates([ts_col, *dedup_cols])
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    grouped = s.groupBy(win)
    if stable:
        from delfos_etl_pipeline_spark.functions.stable import (
            stable_stat_aggs,
            stable_stat_projection,
        )

        wide = grouped.agg(*stable_stat_aggs(measures))
        return wide.select(
            F.col("window.start").alias("window_start"),
            *stable_stat_projection(measures, stats),
        )
    aggs = [
        F.call_function(STAT_SQL[st], F.col(m)).alias(f"{m}_{st}")
        for m in measures
        for st in stats
    ]
    wide = grouped.agg(*aggs)
    return wide.select(
        F.col("window.start").alias("window_start"),
        *[F.col(f"{m}_{st}") for m in measures for st in stats],
    )


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a parquet directory (the engine's stand-in
    for Kafka/rate sources in this container)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stateful_running_totals(
    stream: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running (n, total, vmin, vmax) held in GroupState across micro-batches;
    every batch that touches a key emits that key's updated totals.

    This is the engine's template for stateful logic the built-in
    streaming surface can't express (custom accumulators, decaying
    counters, online sketches): state lives in Spark's state store —
    checkpointed, partitioned by key, recoverable — while the update
    function is plain pandas over Arrow batches. The reference has no
    stateful processing at all (SURVEY.md §2.9: append-only loads, T4);
    this is the M4 additive surface.
    """
    import pandas as pd

    key_type = stream.schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, n long, total double, vmin double, vmax double"
    )
    state_schema = "n long, total double, vmin double, vmax double"

    def update(key, pdfs, state):
        if state.exists:
            n, total, vmin, vmax = state.get
        else:
            n, total, vmin, vmax = 0, 0.0, None, None
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            if not len(vals):
                continue
            n += int(len(vals))
            total += float(vals.sum())
            bmin, bmax = float(vals.min()), float(vals.max())
            vmin = bmin if vmin is None else min(vmin, bmin)
            vmax = bmax if vmax is None else max(vmax, bmax)
        state.update((n, total, vmin, vmax))
        yield pd.DataFrame(
            {key_col: [key[0]], "n": [n], "total": [total], "vmin": [vmin], "vmax": [vmax]}
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def run_available_now(
    result: DataFrame,
    checkpoint_dir: str,
    sink_table: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """T2 replacement — drain all available input once (availableNow),
    write to an in-memory sink table, return the query (caller awaits)."""
    return (
        result.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_foreach_batch_merge(
    stream: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    key: str,
    op_col: str,
    order: tuple[str, ...],
) -> StreamingQuery:
    """Streaming CDC apply: each micro-batch of change rows is MERGEd into
    a parquet snapshot via foreachBatch + operators/cdc.merge_upsert —
    the continuous form of warehouse upsert maintenance (Delta/Iceberg
    MERGE INTO ... WHEN MATCHED, on plain parquet).

    Batches apply in arrival order; within-batch ordering uses ``order``
    (latest change wins), so replaying the same changes is idempotent at
    the snapshot level. The rewrite cost is one co-partitioned join per
    batch — on a real table format this becomes a partition-scoped
    rewrite; the semantics proven here (suffix of changes folds to the
    same state as one big merge) are what make that optimization safe.

    The snapshot directory must exist (seed it with the base state).
    """
    import os as _os

    from delfos_etl_pipeline_spark.operators.cdc import merge_upsert

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base = spark.read.parquet(snapshot_dir)
        drop_cols = [c for c in (op_col, *order) if c not in base.columns]
        merged = merge_upsert(base, batch_df, key, op_col, order).drop(
            "was_updated", *drop_cols
        )
        tmp = snapshot_dir.rstrip("/") + f"._merge_{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        import shutil as _shutil

        bak = snapshot_dir.rstrip("/") + "._bak"
        _os.rename(snapshot_dir, bak)
        _os.rename(tmp, snapshot_dir)
        _shutil.rmtree(bak)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stateful_running_totals_tws(
    stream: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """The Spark 4.x successor of :func:`stateful_running_totals`:
    ``transformWithStateInPandas`` with an explicit ``ValueState`` —
    Arbitrary Stateful Processing v2. Same semantics (per-key running
    n/total/min/max, every touched key re-emits its updated state), but
    the state variable is declared against the handle (typed, TTL-able,
    future-proof for timers/multiple variables) instead of the implicit
    single GroupState blob.

    The v2 state protocol speaks length-prefixed protobuf between the
    JVM state server and the Python workers (StateMessage_pb2). Since
    r7 this container runs it FOR REAL: the vendored minimal protobuf
    runtime (delfos_etl_pipeline_spark/_vendor/protobuf_shim, installed
    by ``ensure_protobuf()`` at package import onto both sys.path and
    PYTHONPATH so the JVM-spawned TWS driver worker inherits it) carries
    the full handshake — tests/test_streaming.py asserts batch parity
    end-to-end. The plan-time probe below stays as a guard for
    environments where neither a real protobuf nor the shim is on the
    worker path, where stream start would otherwise die with an opaque
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE.

    TWS also REQUIRES a multi-column-family state store:
    HDFSBackedStateStoreProvider (the Spark default) raises
    UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES at task
    start, so this function sets the RocksDB provider on the session
    (read at query START; affects subsequent stateful streaming queries
    in the session — an implementation detail, not a semantics change).
    A USER-configured non-default provider is never overridden — this
    warns and leaves it in place (ADVICE r7).
    :func:`stateful_running_totals` (applyInPandasWithState, no protobuf
    dependency) remains the oracle-verified v1 production path.
    """
    try:
        import google.protobuf.descriptor  # noqa: F401
    except ImportError as exc:
        raise RuntimeError(
            "transformWithStateInPandas (Arbitrary Stateful Processing "
            "v2) requires the google.protobuf runtime for its JVM<->"
            "Python state protocol, which this environment lacks; use "
            "stateful_running_totals (applyInPandasWithState) — same "
            "semantics, no protobuf dependency"
        ) from exc
    sess = stream.sparkSession
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    current = sess.conf.get(provider_conf, "") or ""
    default_hdfs = "HDFSBackedStateStoreProvider"
    if "RocksDB" not in current:
        if current and default_hdfs not in current:
            # A USER-CONFIGURED custom provider: overriding it here
            # would silently change the state store (and checkpoint
            # compatibility) for every stateful query started later in
            # the session (ADVICE r7). Leave it alone and warn — if it
            # lacks multi-column-family support, query start fails with
            # Spark's own UNSUPPORTED_FEATURE error naming the provider.
            import warnings

            warnings.warn(
                f"transformWithState needs a multi-column-family state "
                f"store (RocksDBStateStoreProvider); leaving the "
                f"user-configured {provider_conf}={current} in place",
                stacklevel=2,
            )
        else:
            # unset, or the Spark default (HDFS-backed, which raises
            # UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES
            # at task start): set the provider TWS requires.
            sess.conf.set(
                provider_conf,
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    key_type = stream.schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, n long, total double, vmin double, vmax double"
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n long, total double, vmin double, vmax double"
            )

        def handleInputRows(self, key, rows, timer_values):
            cur = self._state.get()
            n, total, vmin, vmax = cur if cur is not None else (0, 0.0, None, None)
            for pdf in rows:
                vals = pdf[value_col].dropna()
                if not len(vals):
                    continue
                n += int(len(vals))
                total += float(vals.sum())
                bmin, bmax = float(vals.min()), float(vals.max())
                vmin = bmin if vmin is None else min(vmin, bmin)
                vmax = bmax if vmax is None else max(vmax, bmax)
            self._state.update((n, total, vmin, vmax))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n": [n],
                    "total": [total],
                    "vmin": [vmin],
                    "vmax": [vmax],
                }
            )

        def close(self) -> None:
            pass

    return stream.groupBy(key_col).transformWithStateInPandas(
        RunningTotals(), out_schema, "Update", "None"
    )
