"""Benchmark runner — times the headline queries and prints ONE JSON line.

Usage: python bench.py
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_DRIVER_MEM (default 16g).

Every timed run is cold and forced to full execution: ``time_query`` clears
the cache and runs a JVM GC outside the timer before each timed run, and
each run writes through the noop sink (no driver-side collect, so the
engine is measured, not result transfer).

A name is timed with one of two recipes:

* ``fresh``: a new python + JVM process (``child``), ``WARM_FRESH``
  warm-ups. Used for the ``STATE`` names and for every name whose median
  in the committed record is at least ``FRESH_S``.
* ``pooled``: the other names, ``CHUNK`` to a SparkContext in one shared
  JVM, ``WARM_POOLED`` warm-up each. A JVM start plus its first table scan
  costs 20-25 s on a 4-vCPU host, so cheap names are not worth a process
  each. A pooled name whose median comes out at least ``FRESH_S``, or that
  fails the reliability rule, is re-timed fresh and the fresh number is
  recorded.

The full record goes to bench_diag.json (committed), stamped with
``engine_tree_hash()`` and carrying a top-level ``ok``;
tests/test_registry.py gates on both.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

#: Representative spread: flagship pipeline, heavy aggregation, joins,
#: window functions, dedup (exact + LSH), similarity, text, as-of.
HEADLINE = [
    "a1_pipeline_long",
    "a1_tumbling_window_agg",
    "a5_group_multi_agg",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q13_cust_order_dist",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_suppliers",
    "session_windows",
    "hypertable_rollup",
    "ts_gap_fill",
    "sample_stratified",
    "range_join_intervals",
    "agg_salted_skew",
    "j1_broadcast_dim_join",
    "j3_fact_dim_join",
    "w1_latest_per_key",
    "o2_topk",
    "agg_grouping_sets",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh_prod",
    "dedup_clusters",
    "dedup_embedding_lsh",
    "sim_lsh_bucketed",
    "sim_ivf_build",
    "sim_ivf_probe",
    "sim_knn_allpairs",
    "emb_scalar_quantize",
    "text_stats",
    "text_quality_gopher",
    "shard_train_split_prod",
    "curate_decontaminate",
    "pack_sequences_ctx",
    "curate_pipeline_end2end",
    "curate_pipeline_staged",
    "asof_join_events",
    "cdc_merge_upsert",
    "funnel_conversion",
    "retention_cohorts",
    "anomaly_zscore",
    "hist_equiwidth",
    "twa_daily",
    "w5_ntile_dist",
    "trend_slope_daily",
    "dq_expectations",
    "robust_stats_by_group",
    "asof_join_forward",
    "text_chunk_overlap",
    "percentiles_daily",
    "cdc_snapshot_diff",
    "funnel_windowed",
    "ab_test_zstat",
    "session_paths",
    "sample_weighted_ares",
    "text_tfidf_top_terms",
    "hist_equidepth",
    "w6_rolling_median",
    "w6_rolling_median_prod",
    "join_salted_skew",
    "dau_wau_rolling",
    "text_bm25_search",
    "dedup_clusters_bigstar",
    "profile_corr_matrix",
    "mm_audio_features",
    "layout_zorder_key",
    "text_lm_bigram_score",
    "w7_running_distinct",
    "emb_centroid_by_label",
    "sim_pq_adc_topk",
    "sim_ivfpq_topk",
    "profile_spearman_corr",
    "graph_pagerank",
    "scd2_point_in_time",
    "orders_open_concurrency",
    "basket_association_rules",
    "text_bpe_train",
    "ts_gapfill_locf",
    "text_inverted_index",
    "emb_standardize",
    "graph_triangles",
    "o4_topk_per_group",
    "dedup_jaccard_prefix",
    "skyline_orders",
    "mutual_information",
    "j_bloom_semi_join",
    "dedup_dupngram_fraction",
    "er_canonical_records",
    "ks_two_sample",
    "w8_ewma",
    "cusum_changepoint",
    "heavy_hitters",
    "a_string_agg",
    "w9_percent_rank_cume",
    "text_collocations_pmi",
    "sample_neyman_allocation",
    "mm_chunk_sample",
    "w10_rolling_corr",
    "dq_benford_digits",
    "orders_rfm_segmentation",
    "cohort_ltv_curve",
    "attribution_last_touch",
    "markov_event_transitions",
    "json_props_extract",
    "ohlc_daily",
    "er_fuzzy_blocked",
    "survival_kaplan_meier",
    "forecast_seasonal_backtest",
    "trend_theil_sen",
    "forecast_holt_linear",
    "attribution_position_based",
    "sample_class_balance",
    "dq_referential_orphans",
    "abc_pareto_parts",
    "emb_silhouette_centroid",
    "dedup_containment",
    "w11_range_interval",
    "growth_accounting_weekly",
    "text_langid_confusion",
    "recsys_item_cosine",
    "seqpat_followed_by",
    "o5_keyset_pagination",
    "ols_elasticity_by_type",
    "emb_anova_f_topdims",
    "dedup_lsh_recall_eval",
    "text_simpson_diversity",
    "sim_ivf_recall_eval",
    "f_datetime_suite",
    "ts_interarrival_stats",
    "session_depth_stats",
    "market_concentration_hhi",
    "returns_rate_by_brand",
    "audience_overlap_jaccard",
    "revenue_new_vs_repeat",
    # round 5
    "ts_acf_daily",
    "ts_seasonal_decompose",
    "orders_backlog_aging",
    "dq_psi_drift",
    "text_readability",
    "sample_systematic",
    "layout_hilbert_key",
    "emb_kmeans_step",
    "streaks_gaps_islands",
    "graph_degree_distribution",
    "promo_uplift_did",
    "text_zipf_fit",
    "mm_magic_profile",
    "dedup_cluster_keep_policy",
    "risk_var_es_daily",
    "asof_join_tolerance",
    "user_event_entropy",
    "revenue_waterfall",
    "events_fano_hourly",
    "w12_streak_reset_count",
    "text_novelty_fraction",
    "dq_uniqueness_profile",
    "orders_median_gap_days",
    "ivm_agg_merge",
    "funnel_negative_condition",
    "stats_bootstrap_ci_mean",
    "orders_ship_latency_percentiles",
    "emb_norm_profile",
    "shard_balance_report",
    "curate_quality_gate_sweep",
    "asof_join_nearest",
    "dq_null_rate_daily",
    "emb_cosine_hist_sampled",
    "funnel_time_to_convert",
    "sim_matryoshka_recall_eval",
    "mm_audio_spectrogram",
    "mm_patch_grid",
    "dedup_threshold_sweep",
    # round 7
    "dedup_exact_substring",
    "mm_image_dhash_dedup",
    "curate_pipeline_substr",
    "dedup_url_manifest",
    "dedup_minhash_est_error",
    "mm_video_scene_cuts",
    "curate_decontaminate_spans",
    "text_bpe_encode_corpus",
    "text_blocklist_screen",
    "dedup_semdedup_survivors",
    # round 8
    "mm_image_dhash_wide",
    "dedup_substring_incremental",
    "text_quality_classifier",
    "dedup_top_duplicate_spans",
    "emb_mutual_knn_clusters",
    "curate_dsir_resample",
    "mm_audio_vad",
    "emb_kmeans_train",
    "curate_semantic_decontaminate",
    # round 9
    "dedup_minhash_incremental_indexed",
    # round 10
    "sim_pq_probe",
    "sim_ivfpq_probe",
    "curate_nightly_ingest",
    # round 11
    "curate_nightly_ingest_day2",
    # round 12
    "curate_nightly_ingest_day3",
    "sim_pq_probe_deleted",
    "sim_pq_probe_compacted",
    # round 13
    "curate_nightly_ingest_day4",
    "emb_project_pca",
    # round 14: the large-k Arrow matmul engines (40 cells / 40
    # centroids per subspace — above the expression thresholds, so
    # these price _assign_matmul and _pq_encode_matmul end-to-end)
    "sim_ivf_build_bigk",
    "sim_pq_adc_bigk",
    # round 15: the certified large-k MAINTENANCE chapters — their
    # timed cost is the one-time state build (build + 2 merges +
    # remove + compact, every assignment/encode on the matmul
    # engines) plus the persisted-store probe; in STATE, like the
    # other state builders
    "sim_ivf_lifecycle_bigk",
    "sim_pq_lifecycle_bigk",
    # curate_nightly_ingest_day2_streamed is deliberately NOT timed: its
    # probe plan is byte-identical to curate_nightly_ingest_day2's (only
    # the one-time state build differs — streaming vs batch merges), so
    # timing it would re-pay a ~2-min fresh-process state build to
    # record a number day2 already records. The r14 streamed chapters
    # follow the same policy: sim_pq_probe_streamed's ADC probe plan is
    # sim_pq_probe's, and curate_nightly_ingest_day3_streamed's probe
    # plan is day3's — their cost is the one-time state build, already
    # priced by the batch twins plus the streaming rows/sec tier below.
]
# Streaming queries (streaming_*) are deliberately NOT in the timed batch
# list: their timed path includes temp-dir writes and sink-table drains,
# which would measure IO setup, not the engine. Streaming throughput is
# measured separately (``_stream``): steady-state micro-batch rows/sec
# from the progress feed.

#: Names whose timed body reads or writes persisted scratch state (an
#: index or staged parquet built once per process), so their cost depends
#: on what the process did before: always timed fresh.
STATE = frozenset({
    "curate_pipeline_staged",
    "dedup_substring_incremental",
    "sim_ivf_probe",
    "dedup_minhash_incremental_indexed",
    "sim_pq_probe",
    "sim_ivfpq_probe",
    "curate_nightly_ingest",
    "curate_nightly_ingest_day2",
    "curate_nightly_ingest_day3",
    "curate_nightly_ingest_day4",
    "sim_pq_probe_deleted",
    "sim_pq_probe_compacted",
    "sim_ivf_lifecycle_bigk",
    "sim_pq_lifecycle_bigk",
})

WARM_FRESH = 3  # a fresh process has a cold JIT
WARM_POOLED = 1
ITERS = 3
CHUNK = 8  # pooled names per SparkContext
FRESH_S = 1.2  # a median at or above this is timed fresh
FRESH_TRIES = 2
STREAM_TOPOLOGIES = ("windowed_agg", "dedup", "stream_join")
DIAG = os.path.join(REPO, "bench_diag.json")


def engine_tree_hash() -> str:
    """Content hash of every file whose change can move a benched number:
    this harness, the driver entry and the engine package. bench.py stamps
    it into bench_diag.json; tests/test_registry.py fails when the
    committed record's stamp does not match the working tree. A content
    hash, not a git SHA, so the check needs no git state and a rebase
    that leaves these files alone keeps the record valid."""
    import hashlib

    paths = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    pkg = os.path.join(REPO, "delfos_etl_pipeline_spark")
    for dirpath, dirs, names in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        paths.extend(os.path.join(dirpath, n) for n in names if n.endswith(".py"))
    h = hashlib.sha256()
    for path in sorted(paths):
        h.update(os.path.relpath(path, REPO).encode())
        h.update(b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _quiet_stderr() -> None:
    """Redirect fd 2 to bench_stderr.log BEFORE the JVM launches.

    The JVM inherits the process stderr at launch, and its startup banner
    prints before any in-process logger call can run. Duping fd 2 to a log
    file before the first SparkSession means the driver's ~2000-char
    output-tail capture sees ONLY the JSON line on stdout; the full stderr
    stays in the gitignored log. Disable with SPARK_GRAFT_QUIET=0 for
    interactive debugging."""
    if os.environ.get("SPARK_GRAFT_QUIET", "1") == "0":
        return
    fd = os.open(os.path.join(REPO, "bench_stderr.log"), os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    os.dup2(fd, 2)
    os.close(fd)


def _new_session():
    """SparkSession with the bench conf: ``local[SPARK_GRAFT_CPUS]``, as
    many shuffle partitions, a SPARK_GRAFT_DRIVER_MEM heap, UI off, and
    known-benign ERROR chatter silenced. The session builder of bench.py,
    its fresh-process child and tools/."""
    from delfos_etl_pipeline_spark import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "delfos-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Stopping a streaming query mid-trigger aborts the in-flight noop
    # epoch (logged as ERROR "aborting"), and executor shutdown races
    # broadcast cleanup. Real failures still surface as exceptions into
    # the record, never only as logs.
    jvm = spark.sparkContext._jvm
    for logger in (
        "org.apache.spark.sql.execution.streaming",
        "org.apache.spark.sql.execution.datasources.v2",
        "org.apache.spark.broadcast.TorrentBroadcast",
        "org.apache.spark.storage.BlockManager",
        "org.apache.spark.storage.BlockManagerMaster",
        "org.apache.spark.storage.BlockManagerMasterEndpoint",
    ):
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            logger, jvm.org.apache.logging.log4j.Level.OFF
        )
    return spark


def time_query(spark, fn, sf_dir: str, warm: int, iters: int) -> list[float]:
    """Raw wall-clock seconds of ``iters`` cold runs of ``fn(spark,
    sf_dir)`` through the noop sink, after ``warm`` untimed runs (janino
    codegen and file-index caches are one-time costs per plan shape).
    Before every timed run, outside the timer, the cache is cleared, so a
    persist made by an earlier run is rebuilt, and the JVM is GC'd, so an
    earlier run's garbage is not paid as pause time."""

    def run() -> None:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    for _ in range(warm):
        run()
    samples = []
    for _ in range(iters):
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        run()
        samples.append(time.perf_counter() - t0)
    return samples


def summary(samples: list[float]) -> dict[str, float]:
    """Median, spread and range of raw samples, in seconds to 10 ms.

    The median is the middle sample (the upper one of an even count). The
    spread is the median's nearest-neighbour gap: how far the reported
    number is from the closest sample that agrees with it. The max-min
    range is recorded too, but at 3 samples one GC outlier owns it while
    the median stays repeatable."""
    s = sorted(samples)
    mid = len(s) // 2
    gaps = [s[mid] - s[mid - 1]] if mid else []
    if mid + 1 < len(s):
        gaps.append(s[mid + 1] - s[mid])
    return {
        "median": round(s[mid], 2),
        "spread": round(min(gaps, default=0.0), 2),
        "range": round(s[-1] - s[0], 2),
    }


def reliable(stats: dict) -> bool:
    """A median of 1 s or more must sit within half its value of its
    nearest sample. Below 1 s, scheduling jitter makes a wide spread
    routine and harmless."""
    return stats["median"] < 1.0 or stats["spread"] <= 0.5 * stats["median"]


def starts_fresh(name: str, prior: dict[str, float]) -> bool:
    """Whether ``name`` is timed fresh from the start: a state name, or a
    median of at least FRESH_S in the committed record."""
    return name in STATE or prior.get(name, 0.0) >= FRESH_S


def retime_fresh(stats: dict) -> bool:
    """Whether a pooled result is re-timed fresh: it is expensive or
    unreliable."""
    return stats["median"] >= FRESH_S or not reliable(stats)


def record_ok(queries: dict, errors: dict, unreliable: list, streaming: dict) -> bool:
    """The record's verdict: every HEADLINE name measured, no query or
    child run failed, no streaming run failed, no name unreliable."""
    return (
        all(n in queries for n in HEADLINE)
        and not errors
        and not unreliable
        and not any(k.endswith("_error") for k in streaming)
    )


def child(kind: str, arg: str, sf_dir: str) -> dict:
    """Body of a fresh-process run (started by ``_spawn``): the raw
    samples of headline name ``arg`` (kind "query") or the steady-state
    rate of streaming topology ``arg`` (kind "stream")."""
    spark = _new_session()
    if kind == "stream":
        from delfos_etl_pipeline_spark.streaming.bench import measure_stream_rate

        return {"rows_per_sec": measure_stream_rate(spark, arg)["rows_per_sec"]}
    from delfos_etl_pipeline_spark.queries import queries
    from delfos_etl_pipeline_spark.sources.parquet import load_table

    load_table(spark, sf_dir, "lineitem").count()  # the JVM's first scan
    return {"samples": time_query(spark, queries()[arg], sf_dir, WARM_FRESH, ITERS)}


def _spawn(kind: str, arg: str, sf_dir: str, timeout: int = 1800) -> dict:
    """Run ``child`` in a new interpreter, and so a new JVM. Returns its
    result, or {"error": ...} when it fails or times out; a hung child
    must not lose the names already measured."""
    code = (
        "import json, sys, bench; "
        "print('RESULT ' + json.dumps(bench.child(*sys.argv[1:])))"
    )
    try:
        proc = subprocess.run(
            [sys.executable, "-c", code, kind, arg, sf_dir],
            cwd=REPO, capture_output=True, text=True, timeout=timeout,
        )
    except subprocess.TimeoutExpired:
        return {"error": f"{kind} child timed out after {timeout}s"}
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    return {"error": (proc.stderr or proc.stdout)[-300:]}


def _time_fresh(name: str, sf_dir: str) -> dict:
    """Summary of a fresh-process run of ``name``; up to FRESH_TRIES runs,
    stopping at the first reliable one."""
    for _ in range(FRESH_TRIES):
        res = _spawn("query", name, sf_dir)
        if "error" in res:
            return res
        stats = summary(res["samples"]) | {"recipe": "fresh", "warmups": WARM_FRESH}
        if reliable(stats):
            break
    return stats


def _stream(topo: str, sf_dir: str) -> dict:
    """Rows/sec of one streaming topology, each run in a fresh process:
    two runs within 20% publish their mean, otherwise a third run
    arbitrates and the median publishes. All raw runs are recorded, so a
    published rate is never a lone sample."""
    runs: list[float] = []
    out: dict = {}
    for _ in range(3):
        res = _spawn("stream", topo, sf_dir)
        if "error" in res:
            out[f"{topo}_error"] = str(res["error"])[:80]
            break
        runs.append(res["rows_per_sec"])
        if len(runs) == 2 and min(runs) >= 0.8 * max(runs):
            break
    if runs:
        mean = round(sum(runs) / len(runs), 1)
        out[f"{topo}_rows_per_sec"] = sorted(runs)[1] if len(runs) == 3 else mean
        out[f"{topo}_runs"] = runs
    return out


def _md5_chain(_=None) -> float:
    """One fixed CPU workload unit for the host-speed anchor. Module
    level, because multiprocessing.Pool pickles the mapped callable by
    qualified name."""
    import hashlib

    h = b"x" * 4096
    t0 = time.time()
    for _ in range(200000):
        h = hashlib.md5(h).digest() + h[:4080]
    return time.time() - t0


def _host_speed_probe() -> dict[str, float]:
    """Host-speed anchor for cross-run comparisons: a single-core md5
    chain (pure CPU, no IO, no JVM) and the median of one chain per CPU
    this process may run on, run at once (exposes noisy-neighbour steal
    without queueing chains behind each other). Divide a run's medians by
    the probe ratio before calling a cross-run delta a regression."""
    import multiprocessing as mp

    single = _md5_chain()
    procs = len(os.sched_getaffinity(0))
    try:
        with mp.Pool(procs) as pool:
            par = statistics.median(pool.map(_md5_chain, range(procs)))
    except Exception:
        par = -1.0
    return {
        "md5_single_s": round(single, 3),
        "md5_par_med_s": round(par, 3),
        "md5_par_procs": procs,
    }


def _prior_medians() -> dict[str, float]:
    """Medians of the committed record; {} when there is none."""
    try:
        with open(DIAG) as f:
            return {n: s["median"] for n, s in json.load(f)["queries"].items()}
    except (OSError, ValueError, KeyError, TypeError):
        return {}


def headline_line(diag: dict) -> str:
    """The one JSON line the driver parses from its 2000-char output
    tail. At most 1,800 chars: when the per-name medians push past that,
    only the slowest names are kept and the rest counted; the complete
    record is always in bench_diag.json."""
    medians = {n: s["median"] for n, s in diag["queries"].items()}
    record = {
        "metric": "headline_queries_total",
        "value": round(sum(medians.values()), 2),
        "unit": "sec",
        "queries": medians,
        "sf": diag["sf"],
        "ok": diag["ok"],
        "engine_tree_sha256": diag["engine_tree_sha256"],
        "host_probe": diag["host_probe"],
        "host_probe_tiers": {k: v["md5_single_s"] for k, v in diag["host_probe_tiers"].items()},
    }
    if diag["streaming"]:
        record["streaming"] = diag["streaming"]
    if diag["errors"]:
        # a failed name is missing from the total, which would otherwise
        # read as an improvement
        record["isolate_errors"] = len(diag["errors"])
        record["partial"] = True
    if diag["unreliable"]:
        record["unreliable"] = diag["unreliable"]
    line = json.dumps(record)
    while len(line) > 1800 and len(record["queries"]) > 5:
        q = record["queries"]
        record["queries"] = dict(sorted(q.items(), key=lambda kv: -kv[1])[: max(5, len(q) - 8)])
        record["queries_omitted"] = len(medians) - len(record["queries"])
        line = json.dumps(record)
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    prior = _prior_medians()
    t_start = time.time()
    host_probe = _host_speed_probe()
    _quiet_stderr()

    # Streaming first (measured after the batch tiers in one process, the
    # rates once read 10-27% low), with its own host anchor beside the
    # rates it governs.
    streaming: dict = {}
    if os.environ.get("SPARK_GRAFT_STREAM_BENCH", "1") != "0":
        streaming["host_probe"] = _host_speed_probe()
        for topo in STREAM_TOPOLOGIES:
            streaming |= _stream(topo, sf_dir)

    from delfos_etl_pipeline_spark.queries import queries
    from delfos_etl_pipeline_spark.sources.parquet import load_table

    qs = queries()
    stats: dict[str, dict] = {}
    errors: dict[str, str] = {}
    pooled = [n for n in HEADLINE if not starts_fresh(n, prior)]
    tiers = {"pooled_start": _host_speed_probe()}
    for lo in range(0, len(pooled), CHUNK):
        # A fresh SparkContext per chunk resets session state (cache
        # manager, shuffle and broadcast refs) while the JVM and its JIT
        # warmth survive through the py4j gateway.
        spark = _new_session()
        load_table(spark, sf_dir, "lineitem").count()
        for name in pooled[lo : lo + CHUNK]:
            try:
                samples = time_query(spark, qs[name], sf_dir, WARM_POOLED, ITERS)
            except Exception as e:
                errors[name] = repr(e)[-300:]
                continue
            stats[name] = summary(samples) | {"recipe": "pooled", "warmups": WARM_POOLED}
        spark.stop()

    retimed: dict[str, float] = {}
    tiers["fresh_start"] = _host_speed_probe()
    fresh = [
        n for n in HEADLINE
        if n not in pooled or (n in stats and retime_fresh(stats[n]))
    ]
    for name in fresh:
        res = _time_fresh(name, sf_dir)
        if "error" in res:
            errors[name] = res["error"]
            continue
        if name in stats:
            retimed[name] = stats[name]["median"]
        stats[name] = res

    ordered = {n: stats[n] for n in HEADLINE if n in stats}
    unreliable = [n for n, s in ordered.items() if not reliable(s)]
    diag = {
        "ok": record_ok(ordered, errors, unreliable, streaming),
        "engine_tree_sha256": engine_tree_hash(),
        "sf": float(m.group(1)) if m else None,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "iters": ITERS,
        "wall_s": round(time.time() - t_start),
        "queries": ordered,
        # pooled medians that were replaced by a fresh re-time
        "retimed_from_pooled": retimed,
        "errors": errors,
        "unreliable": unreliable,
        "streaming": streaming,
        "host_probe": host_probe,
        "host_probe_tiers": tiers,
    }
    with open(DIAG, "w") as f:
        json.dump(diag, f, indent=1)
    print(headline_line(diag))


if __name__ == "__main__":
    main()
