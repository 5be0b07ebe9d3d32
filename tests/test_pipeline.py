"""Flagship pipeline invariants (SURVEY.md §5 strategy 3)."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from delfos_etl_pipeline_spark.plans.pipeline import (
    default_signal_dim,
    extract_range,
    map_signals,
    run_day,
    sensor_pipeline,
    signal_names,
    to_long,
    windowed_stats,
)
from delfos_etl_pipeline_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_windowed_stats_invariants(events):
    wide = windowed_stats(events, "ts", ("value",)).cache()
    # min <= mean <= max on every window
    bad = wide.where(
        (F.col("value_min") > F.col("value_mean"))
        | (F.col("value_mean") > F.col("value_max"))
    ).count()
    assert bad == 0
    # std is NULL iff the bin has exactly one row (sample std, ddof=1)
    counts = (
        events.groupBy(F.window("ts", "10 minutes").start.alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined = wide.join(counts, "window_start")
    assert joined.where((F.col("n") == 1) & F.col("value_std").isNotNull()).count() == 0
    assert joined.where((F.col("n") > 1) & F.col("value_std").isNull()).count() == 0


def test_window_starts_aligned(events):
    wide = windowed_stats(events, "ts", ("value",))
    misaligned = wide.where(
        (F.minute("window_start") % 10 != 0) | (F.second("window_start") != 0)
    ).count()
    assert misaligned == 0


def test_unpivot_null_pruning(events):
    wide = windowed_stats(events, "ts", ("value",))
    kept = to_long(wide, ["window_start"], signal_names(("value",)))
    raw = to_long(
        wide, ["window_start"], signal_names(("value",)), drop_null_values=False
    )
    n_windows = wide.count()
    assert raw.count() == n_windows * 4  # unpivot keeps NULLs like pd.melt
    assert kept.count() == raw.count() - raw.where(F.col("value").isNull()).count()
    assert kept.where(F.col("value").isNull()).count() == 0


def test_map_signals_unmapped_warning(spark, events):
    wide = windowed_stats(events, "ts", ("value",))
    long_df = to_long(wide, ["window_start"], signal_names(("value",)))
    # dimension missing 'value_std' and carrying an unreferenced extra row
    # (FIXTURES.md §2 variant) — unmapped names must be reported and dropped
    dim = spark.createDataFrame(
        [(1, "value_mean", None), (2, "value_min", None), (3, "value_max", None),
         (9, "never_used", None)],
        "id long, name string, description string",
    )
    seen = []
    mapped = map_signals(long_df, dim, log_unmapped=seen.append)
    assert seen == [["value_std"]]
    assert mapped.select("signal_id").distinct().count() == 3


def test_sensor_pipeline_schema(spark, events):
    dim = default_signal_dim(spark, ("value",))
    out = sensor_pipeline(events, dim, ts_col="ts", measures=("value",))
    assert [f.name for f in out.schema.fields] == ["timestamp", "signal_id", "value"]
    assert out.count() > 0


def test_extract_range_validation(events):
    with pytest.raises(ValueError, match="unknown columns"):
        extract_range(events, "ts", None, None, columns=["ts", "bogus"])


def test_extract_range_bounds(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 5, 0, 0),), (dt.datetime(2024, 1, 5, 12, 0),),
         (dt.datetime(2024, 1, 6, 0, 0),)],
        "timestamp timestamp",
    )
    s, e = dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 6)
    # reference-compat inclusive end picks up the midnight boundary row
    # (SURVEY.md §2.10(1)); engine default half-open does not
    assert extract_range(df, "timestamp", s, e, inclusive_end=True).count() == 3
    assert extract_range(df, "timestamp", s, e, inclusive_end=False).count() == 2


def test_run_day_statuses(spark, events):
    dim = default_signal_dim(spark, ("value",))
    ok = run_day(events, dim, "2024-01-05", ts_col="ts", measures=("value",))
    assert ok.status == "success"
    assert ok.rows_loaded > 0
    empty = run_day(events, dim, "2030-01-01", ts_col="ts", measures=("value",))
    assert empty.status == "no_data"


def test_cli_end_to_end(spark, capsys):
    """§3.2 entry-point parity: one partition run over the deterministic
    seed prints the reference's documented numbers (1440 extracted rows,
    144 windows x 8 signals = 1152 loaded) and exits 0; an empty partition
    reports no_data, also exit 0."""
    import json

    from delfos_etl_pipeline_spark.cli import main

    assert main(["2025-08-11"]) == 0
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec == {
        "partition": "2025-08-11", "status": "success",
        "rows_extracted": 1440, "rows_loaded": 1152, "error": None,
    }
    assert main(["2030-01-01"]) == 0
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["status"] == "no_data"


def _counting_source(spark, events):
    """``events`` behind a mapInPandas that counts the rows it passes.
    mapInPandas blocks filter pushdown, so EVERY source row flows through
    it once per action over the input."""
    acc = spark.sparkContext.accumulator(0)

    def bump(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    return events.mapInPandas(bump, events.schema), acc


def _day_counts(spark, events, day, measures=("value",)):
    """(rows extracted, rows loaded) of ``day`` computed block by block."""
    start = dt.datetime.fromisoformat(day)
    day_df = extract_range(
        events, "ts", start, start + dt.timedelta(days=1),
        columns=["ts", *measures], inclusive_end=False,
    )
    out = sensor_pipeline(day_df, default_signal_dim(spark, measures), "ts", measures)
    return day_df.count(), out.count()


def _run_counted(spark, events, sink):
    """run_day over a counting source: (result, source reads per row)."""
    dim = default_signal_dim(spark, ("value",))
    src, acc = _counting_source(spark, events)
    n = events.count()
    res = run_day(src, dim, "2024-01-05", ts_col="ts", measures=("value",), sink=sink)
    assert res.status == "success"
    assert res.rows_loaded > 0
    return res, acc.value / n


def test_run_day_sink_executes_plan_once(spark, events):
    """VERDICT r1 #3: a day is ONE Spark action — the extracted and loaded
    row counts ride the sink's own write as observations, not a count()
    before it (2 source reads) or a recount after it (3)."""
    _, reads = _run_counted(
        spark, events, lambda df: df.write.format("noop").mode("overwrite").save()
    )
    assert reads == 1, f"source read {reads:.1f}x, want 1x"


def test_run_day_no_sink_executes_plan_once(spark, events):
    """Without a sink the same single action runs through the noop writer,
    and both counts match the blocks run one by one."""
    res, reads = _run_counted(spark, events, None)
    assert reads == 1, f"source read {reads:.1f}x, want 1x"
    assert (res.rows_extracted, res.rows_loaded) == _day_counts(spark, events, "2024-01-05")


def _tree(path):
    """{relative file path: bytes} of every file under ``path``."""
    out = {}
    for root, _, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            with open(full, "rb") as f:
                out[os.path.relpath(full, path)] = f.read()
    return out


def test_run_day_empty_day_sink_leaves_dataset(spark, events, tmp_path):
    """The sink is called on an empty day (no_data is decided after the one
    action) and gets an empty frame: the dynamic partition overwrite of
    ``write_partitioned`` then writes no data file and leaves every
    existing partition byte-identical."""
    from delfos_etl_pipeline_spark.sources.sinks import write_partitioned

    dim = default_signal_dim(spark, ("value",))
    path = str(tmp_path / "daily")
    calls = []

    def sink(out):
        calls.append(out)
        write_partitioned(out, path, ts_col="timestamp")

    ok = run_day(events, dim, "2024-01-05", ts_col="ts", measures=("value",), sink=sink)
    assert ok.status == "success" and ok.rows_loaded > 0
    before = _tree(path)
    assert any(p.endswith(".parquet") for p in before)
    empty = run_day(events, dim, "2030-01-01", ts_col="ts", measures=("value",), sink=sink)
    assert (empty.status, empty.error, empty.rows_extracted) == ("no_data", None, 0)
    assert len(calls) == 2
    assert _tree(path) == before


def test_run_day_empty_or_unmatched_dim(spark, events):
    """A dim that maps no signal prunes the join's observed side as
    provably empty; the extracted count then comes from the fallback
    count and the run is a success that loads nothing."""
    extracted, _ = _day_counts(spark, events, "2024-01-05")
    empty_dim = spark.createDataFrame([], "id long, name string, description string")
    other_dim = spark.createDataFrame(
        [(1, "not_a_signal", None)], "id long, name string, description string"
    )
    for dim in (empty_dim, other_dim):
        for sink in (None, lambda df: df.write.format("noop").mode("overwrite").save()):
            res = run_day(events, dim, "2024-01-05", ts_col="ts", measures=("value",), sink=sink)
            assert (res.status, res.rows_extracted, res.rows_loaded) == (
                "success", extracted, 0
            )


def test_daily_build_py4j_commands(spark, events):
    """Building one day's extract_range + sensor_pipeline is a handful of
    SQL statements, not hundreds of py4j round trips: each
    ``pyspark.sql.functions``/Column call pays PySpark's call-site capture
    and each intermediate frame its own analysis (743 commands when the
    blocks were built from Column calls)."""
    dim = default_signal_dim(spark, ("value",))
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    sent = []

    def counting(command, *a, **k):
        sent.append(command)
        return orig(command, *a, **k)

    start = dt.datetime(2024, 1, 5)
    client.send_command = counting
    try:
        day_df = extract_range(
            events, "ts", start, start + dt.timedelta(days=1),
            columns=["ts", "value"], inclusive_end=False,
        )
        sensor_pipeline(day_df, dim, ts_col="ts", measures=("value",))
    finally:
        client.send_command = orig
    assert 0 < len(sent) < 100, f"{len(sent)} py4j commands"


_MIN = dt.datetime(2024, 1, 5)


def _sql_frame(spark, rows, measures):
    """(minute offset, *measure values) rows → a frame with ts + measures."""
    schema = ", ".join(["ts timestamp"] + [f"`{m.replace('`', '``')}` double" for m in measures])
    return spark.createDataFrame(
        [(_MIN + dt.timedelta(minutes=r[0]), *r[1:]) for r in rows], schema
    )


@pytest.mark.parametrize("measure", ["wind speed", "a`b", "{m}", "x}{y"])
def test_sql_blocks_quote_identifiers(spark, measure):
    """Measure names that need quoting — a space, a backtick, braces that
    the statement formatter would otherwise read as fields — survive every
    block and the end-to-end pipeline."""
    df = _sql_frame(spark, [(0, 1.0), (1, 3.0), (12, 5.0)], [measure])
    day = extract_range(df, "ts", _MIN, _MIN + dt.timedelta(days=1), columns=["ts", measure])
    wide = windowed_stats(day, "ts", (measure,))
    assert wide.columns == ["window_start", *signal_names((measure,))]
    got = {r["window_start"].minute: tuple(r)[1:] for r in wide.collect()}
    assert got[0] == (2.0, 1.0, 3.0, pytest.approx(2 ** 0.5))
    assert got[10] == (5.0, 5.0, 5.0, None)
    long_df = to_long(wide, ["window_start"], signal_names((measure,)))
    names = sorted(r[0] for r in long_df.select("signal_name").collect())
    assert names == sorted(signal_names((measure,)) + signal_names((measure,))[:3])
    dim = default_signal_dim(spark, (measure,))
    out = sensor_pipeline(day, dim, ts_col="ts", measures=(measure,))
    ids = {r["id"]: r["name"] for r in dim.collect()}
    rows = {(r.timestamp.minute, ids[r.signal_id]): r.value for r in out.collect()}
    assert len(rows) == 7
    assert rows[(10, f"{measure}_max")] == 5.0


def test_sql_blocks_null_and_nan_bins(spark):
    """NULL measures are skipped by the aggregates; a single-row bin's NULL
    std is dropped by to_long; a bin whose aggregates are all NULL or NaN
    is pruned by windowed_stats; NaN values are dropped like ``na.drop``
    drops them."""
    nan = float("nan")
    df = _sql_frame(
        spark,
        [
            (0, 1.0, None), (1, 2.0, 4.0), (2, None, 6.0),  # bin 0: NULLs skipped
            (10, 7.0, None),  # bin 10: one row per measure → std NULL
            (20, None, None), (21, None, None),  # bin 20: all NULL → pruned
            (30, nan, None),  # bin 30: all NaN/NULL → pruned
            (40, nan, 2.0),  # bin 40: NaN values dropped, power kept
        ],
        ["a", "b"],
    )
    wide = windowed_stats(df, "ts", ("a", "b"))
    bins = {r["window_start"].minute: r for r in wide.collect()}
    assert sorted(bins) == [0, 10, 40]
    assert (bins[0]["a_mean"], bins[0]["b_mean"], bins[0]["b_min"]) == (1.5, 5.0, 4.0)
    assert bins[10]["a_std"] is None and bins[10]["b_mean"] is None
    long_df = to_long(wide, ["window_start"], signal_names(("a", "b")))
    got = {(r.window_start.minute, r.signal_name) for r in long_df.collect()}
    assert (10, "a_std") not in got and (10, "a_mean") in got
    assert {n for m, n in got if m == 40} == {"b_mean", "b_min", "b_max"}
    assert long_df.where("value IS NULL OR isnan(value)").count() == 0
    kept = to_long(wide, ["window_start"], signal_names(("a", "b")), drop_null_values=False)
    assert kept.count() == 3 * 8


def test_sql_blocks_extra_keys_and_bounds(spark):
    """extra_keys group next to the window; string bounds compare like
    timestamps; inclusive_end keeps the end row."""
    df = spark.createDataFrame(
        [(_MIN + dt.timedelta(minutes=m), k, float(v))
         for m, k, v in [(0, "x", 1), (1, "x", 3), (2, "y", 10), (10, "y", 20), (1440, "x", 99)]],
        "ts timestamp, site string, v double",
    )
    wide = windowed_stats(df, "ts", ("v",), stats=("mean", "max"), extra_keys=["site"])
    assert wide.columns == ["window_start", "site", "v_mean", "v_max"]
    got = {(r.window_start.minute, r.window_start.day, r.site): (r.v_mean, r.v_max)
           for r in wide.collect()}
    assert got == {(0, 5, "x"): (2.0, 3.0), (0, 5, "y"): (10.0, 10.0),
                   (10, 5, "y"): (20.0, 20.0), (0, 6, "x"): (99.0, 99.0)}
    s, e = "2024-01-05 00:00:00", "2024-01-06 00:00:00"
    assert extract_range(df, "ts", s, e, inclusive_end=True).count() == 5
    assert extract_range(df, "ts", s, e, inclusive_end=False).count() == 4
    assert extract_range(df, "ts", "2024-01-05 00:02:00", None).count() == 3
    assert extract_range(df, "ts", None, None).count() == 5
