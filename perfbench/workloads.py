"""The three closed-loop workloads: one client, one operation in flight.

Each workload gives ``run.py`` the same steps: ``make_inputs`` (seeded,
repeatable), ``prepare`` (declared state), ``warmup``, ``op`` (one
operation, traced or not, returning its wall time), ``finish`` (read-back
checks) and ``layers`` (per-layer numbers of a traced run).
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time

from pyspark.sql import functions as F

from data import RECIPE, write_query_tables, write_sensor_year
from oracle import OracleChecker
from probes import tree_files

from delfos_etl_pipeline_spark.plans import pipeline
from delfos_etl_pipeline_spark.plans.pipeline import default_signal_dim, run_day, sensor_pipeline
from delfos_etl_pipeline_spark.sources.sinks import write_partitioned

MEASURES = ("wind_speed", "power")
SENSOR = RECIPE["sensor"]
MIX = RECIPE["query_mix"]


def _plan(df) -> None:
    """Catalyst analysis, optimisation and physical planning of ``df``. The
    write that follows plans again, which is part of the tracing overhead."""
    df._jdf.queryExecution().executedPlan()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Correctness tallies and the stage counters of traced operations."""

    #: Traced operations whose counters are reported. The set is fixed, so
    #: two runs with the same seed count the same operations.
    counted_ops = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.attempted = 0
        self.failed = 0
        self.counted: list[dict[str, float]] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)

    def counting(self) -> dict[str, float] | None:
        """The counter dict of the current traced op, or None once the fixed
        set of counted ops is full."""
        if len(self.counted) >= self.counted_ops:
            return None
        self.counted.append({})
        return self.counted[-1]

    def layers(self) -> dict[str, float]:
        """Per-op mean of every counter over the counted ops."""
        keys = {k for c in self.counted for k in c}
        return {k: sum(c.get(k, 0.0) for c in self.counted) / len(self.counted) for k in keys}

    def finish(self) -> None:
        pass


class SensorDaily(Workload):
    """``run_day`` over consecutive days of the generated year, written with
    the real ``write_partitioned`` sink; each day overwrites its own
    partition."""

    spec = RECIPE["sensor_daily"]
    counted_ops = spec["trace_counted_days"]

    def make_inputs(self, root: str) -> None:
        write_sensor_year(os.path.join(root, "sensor"), self.ctx.seed)

    def prepare(self, root: str) -> None:
        self.source = self.spark.read.parquet(os.path.join(root, "sensor"))
        self.dim = default_signal_dim(self.spark, MEASURES)
        self.out = os.path.join(self.ctx.workdir, "daily_out")
        first = dt.date(SENSOR["year"], 1, 1)
        self.days = [first + dt.timedelta(d) for d in range(SENSOR["rows"] // SENSOR["rows_per_day"])]
        self.next_day = 0
        self.days_run: set[dt.date] = set()

    def _day(self) -> dt.date:
        day = self.days[self.next_day % len(self.days)]
        self.next_day += 1
        self.days_run.add(day)
        return day

    def _sink(self, out) -> None:
        write_partitioned(out, self.out, ts_col="timestamp")

    def _run_day(self, day: dt.date, sink) -> float:
        t0 = time.perf_counter()
        res = run_day(self.source, self.dim, day.isoformat(), sink=sink)
        elapsed = time.perf_counter() - t0
        got = (res.status, res.rows_extracted, res.rows_loaded)
        want = ("success", SENSOR["rows_per_day"], SENSOR["loaded_per_day"])
        self.check(got == want, f"run_day {day}: {res}")
        return elapsed

    def warmup(self) -> None:
        for _ in range(self.spec["warmup_days"]):
            self._run_day(self._day(), self._sink)

    def op(self, traced: bool) -> float:
        day = self._day()
        if not traced:
            return self._run_day(day, self._sink)
        tracer = self.tracer
        tracer.begin_op()
        counts = self.counting()
        entered: list[float] = []
        orig_extract, orig_pipeline = pipeline.extract_range, pipeline.sensor_pipeline

        def traced_extract(*a, **k):
            entered.append(time.perf_counter())
            return orig_extract(*a, **k)

        def traced_pipeline(*a, **k):
            # extract_s runs from extract_range's entry to here: the range
            # filter plus run_day's scan count.
            tracer.add(time.perf_counter() - entered.pop(), "extract_s")
            with tracer.span("build_s"):
                return orig_pipeline(*a, **k)

        def traced_sink(out):
            with tracer.span("plan_s"):
                _plan(out)
            with tracer.span("sink_s"):
                self._sink(out)

        pipeline.extract_range, pipeline.sensor_pipeline = traced_extract, traced_pipeline
        t0 = time.perf_counter()
        try:
            with self.ctx.probe.group("daily", counts):
                self._run_day(day, traced_sink)
        finally:
            pipeline.extract_range, pipeline.sensor_pipeline = orig_extract, orig_pipeline
        elapsed = time.perf_counter() - t0
        tracer.add(elapsed, "op_s")
        if counts is not None:
            counts["files_written"], counts["output_bytes"] = tree_files(
                os.path.join(self.out, f"event_date={day}")
            )
        start = dt.datetime.combine(day, dt.time())
        again = sensor_pipeline(
            pipeline.extract_range(
                self.source,
                "timestamp",
                start,
                start + dt.timedelta(days=1),
                columns=["timestamp", *MEASURES],
                inclusive_end=False,
            ),
            self.dim,
        )
        with tracer.span("compute_s"):
            _noop(again)
        return elapsed

    def finish(self) -> None:
        n = self.spark.read.parquet(self.out).count()
        want = len(self.days_run) * SENSOR["loaded_per_day"]
        self.check(n == want, f"daily sink holds {n} rows, expected {want}")


class SensorBackfill(Workload):
    """One ``sensor_pipeline`` call over the whole year, written with
    ``write_partitioned`` into 366 date partitions; every call overwrites
    them all."""

    make_inputs = SensorDaily.make_inputs

    def prepare(self, root: str) -> None:
        self.source = self.spark.read.parquet(os.path.join(root, "sensor"))
        self.dim = default_signal_dim(self.spark, MEASURES)
        self.out = os.path.join(self.ctx.workdir, "backfill_out")

    def _readback(self) -> None:
        n = self.spark.read.parquet(self.out).count()
        want = SENSOR["loaded_per_year"]
        self.check(n == want, f"backfill read back {n} rows, expected {want}")

    def _backfill(self) -> float:
        t0 = time.perf_counter()
        write_partitioned(sensor_pipeline(self.source, self.dim), self.out, ts_col="timestamp")
        return time.perf_counter() - t0

    def warmup(self) -> None:
        january = self.source.where(F.col("timestamp") < F.lit(dt.datetime(SENSOR["year"], 2, 1)))
        warm = os.path.join(self.ctx.workdir, "backfill_warmup")
        write_partitioned(sensor_pipeline(january, self.dim), warm, ts_col="timestamp")

    def op(self, traced: bool) -> float:
        if not traced:
            elapsed = self._backfill()
            self._readback()
            return elapsed
        tracer = self.tracer
        tracer.begin_op()
        counts = self.counting()
        t0 = time.perf_counter()
        with self.ctx.probe.group("backfill", counts):
            with tracer.span("build_s"):
                out = sensor_pipeline(self.source, self.dim)
            with tracer.span("plan_s"):
                _plan(out)
            with tracer.span("sink_s"):
                write_partitioned(out, self.out, ts_col="timestamp")
        elapsed = time.perf_counter() - t0
        tracer.add(elapsed, "op_s")
        if counts is not None:
            counts["files_written"], counts["output_bytes"] = tree_files(self.out)
        self._readback()
        with tracer.span("compute_s"):
            _noop(sensor_pipeline(self.source, self.dim))
        return elapsed


class QueryMix(Workload):
    """Passes over fixed registry queries, read-only through the ``noop``
    sink, each query started from an empty cache."""

    names = MIX["queries"]
    tables = MIX["tables"]

    def make_inputs(self, root: str) -> None:
        write_query_tables(os.path.join(root, "tables"), self.ctx.seed)

    def prepare(self, root: str) -> None:
        from delfos_etl_pipeline_spark.queries import oracle_sql, queries

        self.sf_dir = os.path.join(root, "tables")
        registry, oracles = queries(), oracle_sql()
        self.fns = {n: registry[n] for n in self.names}
        self.oracles = {n: oracles[n] for n in self.names}

    def _reset(self) -> None:
        """The cold recipe, outside every timer: drop cached tables and any
        RDD a previous query left persisted."""
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def warmup(self) -> None:
        """The once-per-run oracle check, then untimed passes while the JVM
        is still warming."""
        with OracleChecker(self.sf_dir, self.tables) as oracle:
            for name in self.names:
                self._reset()
                try:
                    ok, why = oracle.compare(
                        self.fns[name](self.spark, self.sf_dir).toPandas(), self.oracles[name]
                    )
                except Exception as exc:  # noqa: BLE001 - a query that raises fails its check
                    ok, why = False, repr(exc)
                self.check(ok, f"{name}: {why}")
        for _ in range(MIX["warmup_passes"]):
            self.op(False)

    def _query(self, name: str) -> bool:
        try:
            _noop(self.fns[name](self.spark, self.sf_dir))
        except Exception as exc:  # noqa: BLE001 - counted as a failed operation
            print(f"{name}: {exc!r}", file=sys.stderr, flush=True)
            return False
        return True

    def op(self, traced: bool) -> float:
        elapsed = 0.0
        if not traced:
            for name in self.names:
                self._reset()
                t0 = time.perf_counter()
                ok = self._query(name)
                elapsed += time.perf_counter() - t0
                self.check(ok, f"{name} raised")
            return elapsed
        tracer = self.tracer
        tracer.begin_op()
        counts = self.counting()
        for name in self.names:
            self._reset()
            q: dict[str, float] | None = None if counts is None else {}
            t0 = time.perf_counter()
            with self.ctx.probe.group(f"{name}.construct", q) as built:
                with tracer.span("build_s", f"q.{name}.construct_s"):
                    df = self.fns[name](self.spark, self.sf_dir)
            with tracer.span("plan_s", f"q.{name}.plan_s"):
                _plan(df)
            with self.ctx.probe.group(f"{name}.execute", q):
                with tracer.span("execute_s", f"q.{name}.execute_s"):
                    _noop(df)
            elapsed += time.perf_counter() - t0
            if q is not None:
                q["driver_jobs"] = built["jobs"]
                q["persisted_rdds_left"] = len(self.spark.sparkContext._jsc.getPersistentRDDs())
                for k, v in q.items():
                    counts[k] = counts.get(k, 0.0) + v
                counts[f"q.{name}.tasks"] = q["tasks"]
                counts[f"q.{name}.shuffle_write_bytes"] = q["shuffle_write_bytes"]
        tracer.add(elapsed, "op_s")
        return elapsed


WORKLOADS = {
    "sensor_daily": SensorDaily,
    "sensor_backfill": SensorBackfill,
    "query_mix": QueryMix,
}
