"""bench.py's timing loop, summary, recipe selection, verdict and record
line. All Spark-free except the cold-loop test (conftest session) and the
fresh-process child smoke test."""

import json

import pytest

import bench


@pytest.mark.parametrize(
    "samples, expected",
    [
        ([2.0], {"median": 2.0, "spread": 0.0, "range": 0.0}),
        # even count: the upper middle sample, its one neighbour's gap
        ([1.3, 1.0], {"median": 1.3, "spread": 0.3, "range": 0.3}),
        ([3.0, 1.0, 1.1], {"median": 1.1, "spread": 0.1, "range": 2.0}),
        ([1.5, 4.0, 1.5], {"median": 1.5, "spread": 0.0, "range": 2.5}),
        ([5.0, 2.0, 1.0, 2.0, 2.0], {"median": 2.0, "spread": 0.0, "range": 4.0}),
        ([1.0, 2.0, 3.0, 3.5, 9.0], {"median": 3.0, "spread": 0.5, "range": 8.0}),
    ],
)
def test_summary(samples, expected):
    assert bench.summary(samples) == expected


def test_starts_fresh():
    state = next(iter(bench.STATE))
    prior = {"at": 1.2, "above": 3.4, "below": 1.19}
    assert bench.starts_fresh(state, {})
    assert bench.starts_fresh("at", prior)
    assert bench.starts_fresh("above", prior)
    assert not bench.starts_fresh("below", prior)
    assert not bench.starts_fresh("missing", prior)
    assert not bench.starts_fresh("missing", {})


@pytest.mark.parametrize(
    "median, spread, retime",
    [
        (1.2, 0.0, True),  # expensive
        (1.19, 0.59, False),  # cheap and within half its median
        (1.1, 0.6, True),  # unreliable: spread > 0.5 x median
        (0.9, 0.8, False),  # sub-second jitter is not unreliable
    ],
)
def test_retime_fresh(median, spread, retime):
    assert bench.retime_fresh({"median": median, "spread": spread}) is retime


def test_record_ok():
    queries = {n: {"median": 0.5} for n in bench.HEADLINE}
    streaming = {"dedup_rows_per_sec": 1.0}
    assert bench.record_ok(queries, {}, [], streaming)
    assert not bench.record_ok(queries, {"o2_topk": "boom"}, [], streaming)
    assert not bench.record_ok(queries, {}, [], streaming | {"dedup_error": "x"})
    assert not bench.record_ok(queries, {}, ["o2_topk"], streaming)
    missing = dict(queries)
    del missing[bench.HEADLINE[-1]]
    assert not bench.record_ok(missing, {}, [], streaming)


def test_headline_line_fits_1800_chars():
    probe = {"md5_single_s": 1.234, "md5_par_med_s": 2.345, "md5_par_procs": 32}
    streaming = {"host_probe": probe}
    for topo in bench.STREAM_TOPOLOGIES:
        streaming[f"{topo}_rows_per_sec"] = 123456.7
        streaming[f"{topo}_runs"] = [123456.7, 111111.1, 133333.3]
    diag = {
        "ok": False,
        "engine_tree_sha256": "f" * 64,
        "sf": 0.1,
        "queries": {
            n: {"median": 10.0 + i / 100} for i, n in enumerate(bench.HEADLINE)
        },
        "errors": {"o2_topk": "boom"},
        "unreliable": sorted(bench.STATE),
        "streaming": streaming,
        "host_probe": probe,
        "host_probe_tiers": {"pooled_start": probe, "fresh_start": probe},
    }
    assert len(diag["queries"]) == 208
    line = bench.headline_line(diag)
    assert len(line) <= 1800
    rec = json.loads(line)
    total = sum(s["median"] for s in diag["queries"].values())
    assert rec["value"] == round(total, 2)
    assert rec["queries_omitted"] == 208 - len(rec["queries"])
    assert rec["engine_tree_sha256"] == "f" * 64 and rec["partial"]


def test_host_speed_probe_runs_one_chain_per_usable_cpu(monkeypatch):
    """The parallel anchor runs as many chains as the process may use
    CPUs, in a pool of that size, and records that count beside the
    median, so it measures steal rather than its own queueing."""
    import multiprocessing

    pools = []

    class FakePool:
        def __init__(self, procs):
            pools.append(procs)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def map(self, fn, items):
            return [fn(i) for i in items]

    chains = iter([9.0, 1.0, 3.0, 2.0])
    monkeypatch.setattr(bench, "_md5_chain", lambda _=None: next(chains))
    monkeypatch.setattr(multiprocessing, "Pool", FakePool)
    monkeypatch.setattr(bench.os, "sched_getaffinity", lambda _pid: {0, 2, 5})
    probe = bench._host_speed_probe()
    assert pools == [3]
    assert probe == {"md5_single_s": 9.0, "md5_par_med_s": 2.0, "md5_par_procs": 3}


def test_time_query_is_cold(spark, sf_dir):
    """Every timed run starts with nothing persisted, even when the query
    persists what it returns; warm-ups are not cleared between them."""
    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    for rdd in jsc.getPersistentRDDs().values():  # earlier tests' leftovers
        rdd.unpersist(True)
    seen = []

    def fn(spark, _sf_dir):
        seen.append(jsc.getPersistentRDDs().size())
        df = spark.range(1000 + len(seen)).selectExpr("id % 7 AS k").persist()
        df.count()
        return df

    samples = bench.time_query(spark, fn, sf_dir, warm=2, iters=3)
    assert len(samples) == 3 and all(s > 0 for s in samples)
    assert seen == [0, 1, 0, 0, 0]
    spark.catalog.clearCache()


def test_fresh_child_smoke(monkeypatch, sf_dir):
    """The fresh-process child runs one cheap name end to end in a new
    interpreter and JVM and returns its raw samples."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    res = bench._spawn("query", "o2_topk", sf_dir, timeout=600)
    assert "error" not in res, res["error"]
    assert len(res["samples"]) == bench.ITERS == 3
