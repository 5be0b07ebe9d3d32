"""The flagship sensor ETL pipeline, Spark-first.

Re-expresses the reference's extract→transform→load chain
(/root/reference/etl/etl_process.py:36-206 and its near-verbatim twin
/root/reference/dagster/assets.py:25-168 — SURVEY.md §3.1/§3.2 notes they
are a duplicated pair; here there is exactly ONE implementation) as a
single declarative plan:

    range-filtered scan (P3) → tumbling-window multi-agg (A1, alias
    discipline R2) → all-null bin pruning (A2) → unpivot wide→long (R1)
    → NULL-value pruning (A2) → broadcast dimension join (J1) with
    unmapped-key elimination (J2) → projection (P4)

R3 (the reference's set_index/reset_index around resample,
etl_process.py:86,104) is deliberately absent: Spark has no index concept;
projecting ``window.start`` replaces the reset_index round-trip.

Everything is built-in Spark SQL expressions — zero Python UDFs — so
Catalyst sees through the whole plan (predicate pushdown into the scan,
partial aggregation map-side, broadcast hash join for the dimension).
At 100 TB the only shuffle is the window group-by, keyed on the window
start, which is near-uniformly distributed for time-series data.

Each block's relational step is one parameterized ``spark.sql`` statement
over ``{df}``. At 1,440 rows a day the daily run's cost is per-call
overhead: built from ``pyspark.sql.functions`` Column calls (each paying
PySpark's call-site capture) and a dozen separately analyzed intermediate
frames, one extract + transform build sent ~740 py4j commands; as
statements it sends under 100.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from delfos_etl_pipeline_spark.session import local_frame

#: Stats applied per measure — mean/min/max/sample-std, exactly the
#: reference's resample aggregate set (/root/reference/etl/etl_process.py:90-94).
#: Sample (ddof=1) stddev is load-bearing: SURVEY.md §2.10(2).
DEFAULT_STATS: tuple[str, ...] = ("mean", "min", "max", "std")

#: The one stat vocabulary: stat name → Spark SQL aggregate function. The
#: batch ``windowed_stats`` statement and the streaming runner both read it.
STAT_SQL = {
    "mean": "avg",
    "min": "min",
    "max": "max",
    "std": "stddev_samp",  # NULL for 1-row bins ≡ pandas NaN (ddof=1)
}


def _q(name: str) -> str:
    """``name`` as a quoted identifier inside statement text that
    ``spark.sql(text, df=...)`` formats with ``str.format``: backticks
    doubled for the SQL parser, braces doubled for the formatter."""
    quoted = "`" + name.replace("`", "``") + "`"
    return quoted.replace("{", "{{").replace("}", "}}")


def _nullish(col: str) -> str:
    """SQL predicate: NULL or NaN — what ``na.drop`` counts as missing."""
    return f"({col} IS NULL OR isnan({col}))"


def signal_names(measures: tuple[str, ...], stats: tuple[str, ...] = DEFAULT_STATS) -> list[str]:
    """Flat '{measure}_{stat}' names, mirroring the reference's renamed agg
    columns (/root/reference/etl/etl_process.py:91,94)."""
    return [f"{m}_{s}" for m in measures for s in stats]


def default_signal_dim(
    spark: SparkSession,
    measures: tuple[str, ...],
    stats: tuple[str, ...] = DEFAULT_STATS,
) -> DataFrame:
    """The signal dimension (S2): id/name/description, ids 1..N in the same
    deterministic order the reference seeds
    (reference etl/prepare_alvo_db.py:56-66). Built with
    :func:`local_frame`, so the per-day broadcast of this lookup is a
    JVM ``LocalTableScan``, never a Python-worker RDD scan."""
    rows = [
        (i + 1, name, f"aggregated signal {name}")
        for i, name in enumerate(signal_names(measures, stats))
    ]
    return local_frame(spark, rows, "id long, name string, description string")


def extract_range(
    df: DataFrame,
    ts_col: str,
    start: _dt.datetime | str | None,
    end: _dt.datetime | str | None,
    columns: list[str] | None = None,
    inclusive_end: bool = True,
) -> DataFrame:
    """Range-filtered, projected scan — the API's dynamic SELECT (S1/P1/P3,
    /root/reference/api/app/database.py:41-64).

    The reference's end bound is INCLUSIVE (``timestamp <= end``,
    database.py:59), which double-counts each midnight row across adjacent
    daily runs (SURVEY.md §2.10(1)). ``inclusive_end=True`` preserves that
    for parity; pass False for the sane half-open ``[start, end)`` default
    in new pipelines.

    One parameterized statement: the bounds bind to the ``:start`` /
    ``:end`` markers as literals, exactly as ``F.lit`` would type them (a
    naive ``datetime`` is a timestamp, a string is compared after Spark's
    implicit cast). :func:`run_day` observes its row count on this frame
    rather than counting it in a separate job.
    """
    if columns:
        unknown = [c for c in columns if c not in df.columns]
        if unknown:  # P2 allowlist validation (api/app/main.py:120-131)
            raise ValueError(f"unknown columns: {unknown}; available: {df.columns}")
    ts = _q(ts_col)
    conds, args = [], {}
    if start is not None:
        conds.append(f"{ts} >= :start")
        args["start"] = start
    if end is not None:
        conds.append(f"{ts} {'<=' if inclusive_end else '<'} :end")
        args["end"] = end
    select = ", ".join(map(_q, columns)) if columns else "*"
    where = f" WHERE {' AND '.join(conds)}" if conds else ""
    return df.sparkSession.sql(f"SELECT {select} FROM {{df}}{where}", args, df=df)


def windowed_stats(
    df: DataFrame,
    ts_col: str,
    measures: tuple[str, ...],
    window: str = "10 minutes",
    stats: tuple[str, ...] = DEFAULT_STATS,
    extra_keys: list[str] | None = None,
    stable: bool = False,
) -> DataFrame:
    """A1 — tumbling-window multi-aggregate, the reference's signature op
    (pandas ``resample('10T').agg(['mean','min','max','std'])``,
    /root/reference/etl/etl_process.py:86-96).

    Spark ``window()`` bins are left-closed/left-labeled, identical to the
    pandas resample defaults (SURVEY.md §2.10(6)); the label column is the
    window *start*. Rows where every aggregate is NULL (or NaN, as
    ``na.drop`` counts it) are pruned (``dropna(how='all')`` ≡
    etl_process.py:98). Measures are numeric.

    The default path is one SQL statement (aggregate and bin pruning);
    ``stable=True`` computes mean/std from exact decimal sums with
    explicit half-up rounding (functions/stable.py) — bit-identical
    across engines/partitionings, for oracle-compared outputs.
    """
    names = signal_names(measures, stats)
    if stable:
        from delfos_etl_pipeline_spark.functions.stable import (
            stable_stat_aggs,
            stable_stat_projection,
        )

        keys = [F.window(F.col(ts_col), window)] + [F.col(k) for k in (extra_keys or [])]
        head_cols = [F.col("window.start").alias("window_start")]
        head_cols += [F.col(k) for k in (extra_keys or [])]
        wide = df.groupBy(*keys).agg(*stable_stat_aggs(measures))
        wide = wide.select(*head_cols, *stable_stat_projection(measures, stats))
        return wide.na.drop(how="all", subset=names)
    key_sql = "".join(f", {_q(k)}" for k in (extra_keys or []))
    aggs = ", ".join(
        f"{STAT_SQL[s]}({_q(m)}) AS {_q(f'{m}_{s}')}" for m in measures for s in stats
    )
    all_missing = " AND ".join(_nullish(_q(n)) for n in names)
    return df.sparkSession.sql(
        f"SELECT * FROM (SELECT window.start AS window_start{key_sql}, {aggs} "
        f"FROM {{df}} GROUP BY window({_q(ts_col)}, :w){key_sql}) "
        f"WHERE NOT ({all_missing})",
        {"w": window},
        df=df,
    )


def to_long(
    wide: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    name_col: str = "signal_name",
    value_col: str = "value",
    drop_null_values: bool = True,
) -> DataFrame:
    """R1 — unpivot/melt wide→long (/root/reference/etl/etl_process.py:104-110).

    ``UNPIVOT INCLUDE NULLS`` keeps NULL values just like ``pd.melt``; the
    ``WHERE`` replicates the reference's follow-up ``dropna()``
    (etl_process.py:112) that removes single-row-bin std NULLs — without it
    they leak through (SURVEY.md §2.10(3)). Like ``na.drop`` it drops NaN
    values too, so the value columns are numeric."""
    value = _q(value_col)
    where = f" WHERE NOT {_nullish(value)}" if drop_null_values else ""
    return wide.sparkSession.sql(
        f"SELECT {', '.join(map(_q, id_cols))}, {_q(name_col)}, {value} "
        f"FROM {{df}} UNPIVOT INCLUDE NULLS ({value} FOR {_q(name_col)} "
        f"IN ({', '.join(map(_q, value_cols))})){where}",
        df=wide,
    )


def map_signals(
    long_df: DataFrame,
    signal_dim: DataFrame,
    name_col: str = "signal_name",
    log_unmapped=None,
) -> DataFrame:
    """J1/J2 — dimension lookup as a broadcast hash join.

    The reference does ``series.map({name: id})`` then drops NaN ids with a
    warning (/root/reference/etl/etl_process.py:140-148). Spark-first this
    is an INNER broadcast join (unmatched rows eliminated by the join
    itself); the warning path is a LEFT ANTI join, computed only when a
    ``log_unmapped`` callback is supplied so the hot path stays single-pass.
    """
    spark, name = long_df.sparkSession, _q(name_col)
    if log_unmapped is not None:
        unmapped = spark.sql(
            f"SELECT /*+ BROADCAST(d) */ DISTINCT l.{name} FROM {{long_df}} l "
            f"LEFT ANTI JOIN {{dim}} d ON l.{name} = d.name",
            long_df=long_df,
            dim=signal_dim,
        )
        names = [r[0] for r in unmapped.collect()]
        if names:
            log_unmapped(names)
    return spark.sql(
        f"SELECT /*+ BROADCAST(d) */ l.*, d.id AS signal_id FROM {{long_df}} l "
        f"JOIN {{dim}} d ON l.{name} = d.name",
        long_df=long_df,
        dim=signal_dim,
    )


def sensor_pipeline(
    df: DataFrame,
    signal_dim: DataFrame,
    ts_col: str = "timestamp",
    measures: tuple[str, ...] = ("wind_speed", "power"),
    window: str = "10 minutes",
) -> DataFrame:
    """The full transform: wide 1-minute series → long (timestamp,
    signal_id, value) 10-minute aggregates — the entire body of
    /root/reference/dagster/assets.py:75-126 as one declarative plan."""
    wide = windowed_stats(df, ts_col, measures, window)
    long_df = to_long(wide, ["window_start"], signal_names(measures))
    mapped = map_signals(long_df, signal_dim)
    return mapped.selectExpr("window_start AS timestamp", "signal_id", "value")


@dataclass
class RunResult:
    """T5 — per-partition run record (/root/reference/etl/etl_process.py:178-206)."""

    partition: str
    status: str  # success | no_data | error
    rows_extracted: int = 0
    rows_loaded: int = 0
    error: str | None = None
    stats: dict = field(default_factory=dict)


def _observed_rows(obs: Observation) -> int | None:
    """The ``count(1)`` an observation collected, or None when its subtree
    was pruned as provably empty and never ran (an empty day's shuffle
    stage under AQE, a join side under ``PropagateEmptyRelation``). The
    JVM row is read directly: ``Observation.get`` fails on the empty row
    a pruned observation leaves behind."""
    row = obs._jo.getRow()
    return row.getLong(0) if row.size() else None


def _noop_sink(out: DataFrame) -> None:
    out.write.format("noop").mode("overwrite").save()


def run_day(
    df: DataFrame,
    signal_dim: DataFrame,
    day: str,
    ts_col: str = "timestamp",
    measures: tuple[str, ...] = ("wind_speed", "power"),
    sink=None,
    inclusive_end: bool = False,
) -> RunResult:
    """T1/T3 — one daily-partition run: extract [D, D+1) → transform → load.

    ``inclusive_end=False`` (half-open) is the engine default, fixing the
    reference's midnight double-count (SURVEY.md §2.10(1)); pass True for
    bug-compatible parity. ``sink`` is a callable(DataFrame) — e.g. a
    partitioned parquet append or JDBC write (S5); without one the plan
    runs through the ``noop`` writer.

    One Spark action per day: ``rows_extracted`` and ``rows_loaded`` are
    observations that ride the sink's own write, so there is no separate
    count of the day and no recount of the output. ``no_data`` is decided
    after that action, which means the sink IS called on an empty day and
    receives an empty frame; ``write_partitioned``'s dynamic overwrite then
    writes no data file and leaves existing partitions untouched. When an
    observed subtree is pruned as provably empty (an empty day, or an
    empty or non-matching ``signal_dim``), the extracted count falls back
    to one ``count()`` of the day and the loaded count is 0 — the same
    results as counting first.
    """
    start = _dt.datetime.fromisoformat(day)
    end = start + _dt.timedelta(days=1)
    try:
        day_df = extract_range(
            df, ts_col, start, end, columns=[ts_col, *measures], inclusive_end=inclusive_end
        )
        extracted_obs = Observation(f"run_day_{day}_extracted")
        loaded_obs = Observation(f"run_day_{day}_loaded")
        observed = day_df.observe(extracted_obs, F.expr("count(1) AS rows"))
        out = sensor_pipeline(observed, signal_dim, ts_col, measures)
        (sink or _noop_sink)(out.observe(loaded_obs, F.expr("count(1) AS rows")))
        extracted = _observed_rows(extracted_obs)
        if extracted is None:
            extracted = day_df.count()
        if extracted == 0:  # P6 — empty input is no_data (etl_process.py:79-81)
            return RunResult(day, "no_data")
        loaded = _observed_rows(loaded_obs) or 0
        return RunResult(day, "success", rows_extracted=extracted, rows_loaded=loaded)
    except Exception as exc:  # noqa: BLE001 — mirror reference's error record
        return RunResult(day, "error", error=str(exc))
