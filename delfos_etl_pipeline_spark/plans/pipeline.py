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

_STAT_FN = {
    "mean": F.avg,
    "min": F.min,
    "max": F.max,
    "std": F.stddev_samp,  # NULL for 1-row bins ≡ pandas NaN (ddof=1)
}


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
    """
    if columns:
        unknown = [c for c in columns if c not in df.columns]
        if unknown:  # P2 allowlist validation (api/app/main.py:120-131)
            raise ValueError(f"unknown columns: {unknown}; available: {df.columns}")
        df = df.select(*columns)
    c = F.col(ts_col)
    if start is not None:
        df = df.where(c >= F.lit(start))
    if end is not None:
        df = df.where(c <= F.lit(end) if inclusive_end else c < F.lit(end))
    return df


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
    window *start*. Rows where every aggregate is NULL are pruned
    (``dropna(how='all')`` ≡ etl_process.py:98).

    ``stable=True`` computes mean/std from exact decimal sums with
    explicit half-up rounding (functions/stable.py) — bit-identical
    across engines/partitionings, for oracle-compared outputs.
    """
    keys = [F.window(F.col(ts_col), window)] + [F.col(k) for k in (extra_keys or [])]
    head_cols = [F.col("window.start").alias("window_start")]
    head_cols += [F.col(k) for k in (extra_keys or [])]
    if stable:
        from delfos_etl_pipeline_spark.functions.stable import (
            stable_stat_aggs,
            stable_stat_projection,
        )

        wide = df.groupBy(*keys).agg(*stable_stat_aggs(measures))
        wide = wide.select(*head_cols, *stable_stat_projection(measures, stats))
    else:
        aggs = [
            _STAT_FN[s](F.col(m)).alias(f"{m}_{s}") for m in measures for s in stats
        ]
        out_cols = head_cols + [F.col(f"{m}_{s}") for m in measures for s in stats]
        wide = df.groupBy(*keys).agg(*aggs).select(*out_cols)
    return wide.na.drop(how="all", subset=signal_names(measures, stats))


def to_long(
    wide: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    name_col: str = "signal_name",
    value_col: str = "value",
    drop_null_values: bool = True,
) -> DataFrame:
    """R1 — unpivot/melt wide→long (/root/reference/etl/etl_process.py:104-110).

    ``unpivot`` keeps NULL values just like ``pd.melt``; the explicit
    ``na.drop`` replicates the reference's follow-up ``dropna()``
    (etl_process.py:112) that removes single-row-bin std NULLs — without it
    they leak through (SURVEY.md §2.10(3))."""
    long_df = wide.unpivot(
        [F.col(c) for c in id_cols], [F.col(c) for c in value_cols], name_col, value_col
    )
    if drop_null_values:
        long_df = long_df.na.drop(subset=[value_col])
    return long_df


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
    dim = F.broadcast(signal_dim.select(F.col("name"), F.col("id").alias("signal_id")))
    if log_unmapped is not None:
        unmapped = (
            long_df.join(dim, long_df[name_col] == dim["name"], "left_anti")
            .select(name_col)
            .distinct()
        )
        names = [r[0] for r in unmapped.collect()]
        if names:
            log_unmapped(names)
    return long_df.join(dim, long_df[name_col] == dim["name"], "inner").drop("name")


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
    return mapped.select(
        F.col("window_start").alias("timestamp"),
        F.col("signal_id"),
        F.col("value"),
    )


@dataclass
class RunResult:
    """T5 — per-partition run record (/root/reference/etl/etl_process.py:178-206)."""

    partition: str
    status: str  # success | no_data | error
    rows_extracted: int = 0
    rows_loaded: int = 0
    error: str | None = None
    stats: dict = field(default_factory=dict)


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
    partitioned parquet append or JDBC write (S5).
    """
    start = _dt.datetime.fromisoformat(day)
    end = start + _dt.timedelta(days=1)
    try:
        day_df = extract_range(
            df, ts_col, start, end, columns=[ts_col, *measures], inclusive_end=inclusive_end
        )
        extracted = day_df.count()
        if extracted == 0:  # P6 — empty-input short-circuit (etl_process.py:79-81)
            return RunResult(day, "no_data")
        out = sensor_pipeline(day_df, signal_dim, ts_col, measures)
        if sink is not None:
            # One job: the loaded-row count rides the sink's own action via
            # an Observation instead of a second count() that would re-run
            # the whole extract→transform plan (2× waste per partition).
            obs = Observation(f"run_day_{day}")
            observed = out.observe(obs, F.count(F.lit(1)).alias("rows_loaded"))
            sink(observed)
            loaded = obs.get["rows_loaded"]
        else:
            loaded = out.count()
        return RunResult(day, "success", rows_extracted=extracted, rows_loaded=loaded)
    except Exception as exc:  # noqa: BLE001 — mirror reference's error record
        return RunResult(day, "error", error=str(exc))
