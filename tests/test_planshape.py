"""Physical-plan posture assertions — the 100 TB story, checked in CI.

Correctness tests prove the operators compute the right answer; these
prove the PLAN is the one a 1000-executor cluster wants: dimensions
broadcast, only fact⋈fact edges shuffle, and filters reach the parquet
scan. A regression here (a dim falling back to a shuffle join, a filter
evaluated post-scan) is invisible at test scale but dominant at 100×.
"""

import pytest

from delfos_etl_pipeline_spark.queries import queries

QS = queries()


def _plan(spark, sf_dir, name: str) -> str:
    """Full formatted explain (node toString truncates PushedFilters)."""
    df = QS[name](spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def _count(plan: str, token: str) -> int:
    """Count physical nodes of a type: formatted explain prints each node
    in the tree AND once as a numbered detail — count only the latter."""
    import re

    return len(re.findall(rf"^\(\d+\) {token}", plan, flags=re.M))


def test_q9_dims_broadcast_facts_shuffle(spark, sf_dir):
    """Q9's 6-table join: part/supplier/nation broadcast; at most the
    lineitem⋈partsupp and lineitem⋈orders edges shuffle."""
    plan = _plan(spark, sf_dir, "tpch_q9_product_profit")
    assert _count(plan, "BroadcastHashJoin") >= 3
    shuffles = _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin")
    assert shuffles <= 2, plan


def test_q3_dim_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q3_shipping_priority")
    assert _count(plan, "BroadcastHashJoin") >= 1
    shuffles = _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin")
    assert shuffles <= 1, plan


def test_q6_filters_reach_scan(spark, sf_dir):
    """Q6 is scan-bound: every predicate must appear as a pushed parquet
    filter so row-group min/max skipping works."""
    plan = _plan(spark, sf_dir, "tpch_q6_forecast_revenue")
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity" in plan


def test_q18_semi_join_before_wide_join(spark, sf_dir):
    """Q18's HAVING subquery must plan as a semi join (never materialize
    the matching lineitem multiplicity)."""
    plan = _plan(spark, sf_dir, "tpch_q18_large_orders")
    assert "LeftSemi" in plan


def test_flagship_single_shuffle(spark, sf_dir):
    """The A1 pipeline: one aggregate exchange + the broadcast dim join —
    no second data shuffle. The signal dim is a JVM local relation, so its
    broadcast build side runs no Python worker."""
    import re

    plan = _plan(spark, sf_dir, "a1_pipeline_long")
    assert _count(plan, "BroadcastHashJoin") == 1
    assert _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin") == 0
    assert "ExistingRDD" not in plan, plan
    assert re.search(
        r"BroadcastExchange \(\d+\)\n\s*\+- LocalTableScan \(\d+\)", plan
    ), plan


@pytest.mark.parametrize(
    "name",
    [
        "w6_rolling_median_prod",  # operators/rank.py offsets
        "text_blocklist_screen",  # queries/text_quality.py blocklist
    ],
)
def test_broadcast_lookups_are_local_relations(spark, sf_dir, name):
    """Driver-built broadcast lookups plan as LocalTableScan, never as a
    Python-RDD scan."""
    plan = _plan(spark, sf_dir, name)
    assert _count(plan, "LocalTableScan") >= 1, plan
    assert "ExistingRDD" not in plan, plan


def test_mixture_sample_is_pure_narrow(spark, sf_dir):
    """Mixture sampling must be a zero-shuffle scan: the md5-threshold
    filter evaluates at the scan and only (doc_id, lang) are read — the
    text column never leaves parquet."""
    plan = _plan(spark, sf_dir, "sample_mixture_weighted")
    assert _count(plan, "Exchange") == 0, plan
    import re

    schema = re.search(r"ReadSchema: (\S+)", plan).group(1)
    assert "text" not in schema and "doc_id" in schema and "lang" in schema


def test_decontaminate_broadcasts_eval_shingles(spark, sf_dir):
    """The eval shingle set is benchmark-sized; the corpus side is the
    100 TB side — the contamination probe must be a broadcast join, never
    a corpus-wide shuffle against the eval set."""
    plan = _plan(spark, sf_dir, "curate_decontaminate")
    assert _count(plan, "BroadcastHashJoin") >= 1, plan


def test_budget_prefix_sum_stays_parallel(spark, sf_dir):
    """The token-budget cut must NOT plan a partitionless global window
    (one task at any scale): the two-phase scan shows a range exchange
    plus per-partition windows keyed on the partition id."""
    plan = _plan(spark, sf_dir, "sample_token_budget")
    assert "rangepartitioning" in plan.lower(), plan
    assert "singlepartition" not in plan.lower(), plan


def test_quality_signals_no_cartesian(spark, sf_dir):
    """Quality signals: explode + two-level aggregation, all joins keyed
    by doc_id — no cartesian anywhere, no per-row quadratic rewrite."""
    plan = _plan(spark, sf_dir, "text_quality_gopher")
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, "BroadcastNestedLoopJoin") == 0


def test_pii_redact_is_pure_narrow(spark, sf_dir):
    """Redaction is a stateless regexp_replace projection: zero exchanges,
    runs at scan throughput."""
    plan = _plan(spark, sf_dir, "text_pii_redact")
    assert _count(plan, "Exchange") == 0, plan


def test_top_ngrams_partial_agg_then_topk(spark, sf_dir):
    """Corpus bigram counts: map-side partial HashAggregate before the
    exchange (the token fan-out collapses locally), then a global top-k —
    never a full sort of the counted vocabulary."""
    plan = _plan(spark, sf_dir, "text_top_ngrams")
    assert _count(plan, "HashAggregate") >= 2, plan
    assert _count(plan, "TakeOrderedAndProject") == 1, plan


def test_shard_window_is_per_shard(spark, sf_dir):
    """Within-shard positions partition the window by shard — hash
    exchange on the shard key, never a singlepartition global sort."""
    plan = _plan(spark, sf_dir, "shard_train_split")
    assert "singlepartition" not in plan.lower(), plan
    assert "hashpartitioning(shard" in plan.lower(), plan


def test_quantize_is_scan_plus_scalar_fit(spark, sf_dir):
    """Quantization: the fit collapsed to broadcast literals at plan time,
    so the coding pass is a zero-exchange projection over one scan."""
    plan = _plan(spark, sf_dir, "emb_scalar_quantize")
    assert _count(plan, "Exchange") == 0, plan
    assert _count(plan, "CartesianProduct") == 0


def test_merge_upsert_single_key_exchanges(spark, sf_dir):
    """CDC merge: every exchange hashes on the business key (user_id) —
    the snapshot window, the changeset window, and the full-outer join
    all co-partition; nothing reshuffles on a derived key and nothing
    falls back to a nested-loop join."""
    plan = _plan(spark, sf_dir, "cdc_merge_upsert")
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, "BroadcastNestedLoopJoin") == 0
    import re

    hashed = re.findall(r"hashpartitioning\((\w+)", plan)
    assert hashed and all(col == "user_id" for col in hashed), hashed


def test_hist_equiwidth_broadcasts_minmax(spark, sf_dir):
    """The global min/max reduces to ONE row and must broadcast into the
    binning projection — the fact side never shuffles to meet it."""
    plan = _plan(spark, sf_dir, "hist_equiwidth")
    assert _count(plan, "BroadcastNestedLoopJoin") == 1, plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin") == 0


def test_anomaly_zscore_single_exchange(spark, sf_dir):
    """Whole-partition stats window + filter: one hash exchange on
    event_type, no rejoin of a grouped aggregate."""
    plan = _plan(spark, sf_dir, "anomaly_zscore")
    assert _count(plan, "Exchange") == 1, plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin") == 0


def test_scd2_single_window_shuffle(spark, sf_dir):
    """SCD2 build is one lead() window: exactly one exchange, keyed on the
    business key."""
    plan = _plan(spark, sf_dir, "cdc_scd2_dim")
    assert _count(plan, "Exchange") == 1, plan
    assert "hashpartitioning(user_id" in plan


def test_ntz_range_scan_keeps_pushdown(spark, sf_dir):
    """The NTZ→LTZ load normalization must not strand range predicates
    above the scan: s1's bounds reach the parquet reader as PushedFilters
    on the raw ts column."""
    plan = _plan(spark, sf_dir, "s1_scan_project_filter")
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(ts" in plan, plan
    assert "LessThanOrEqual(ts" in plan, plan


def test_windowed_funnel_no_cartesian(spark, sf_dir):
    """The 24h-bounded funnel's three banded joins must all be keyed
    equi-joins on the user (band as residual condition) — never a
    cartesian or broadcast-nested-loop explosion."""
    plan = _plan(spark, sf_dir, "funnel_windowed")
    assert _count(plan, "CartesianProduct") == 0, plan
    assert _count(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_weighted_sample_is_topk_not_sort(spark, sf_dir):
    """A-Res weighted sampling must plan as TakeOrderedAndProject (top-k
    heap per partition), never a full global sort of the corpus."""
    plan = _plan(spark, sf_dir, "sample_weighted_ares")
    assert "TakeOrderedAndProject" in plan, plan
    assert _count(plan, "Sort") == 0, plan


def test_approx_percentiles_broadcast_sketch_side(spark, sf_dir):
    """The *_approx percentile verification joins must broadcast the
    tiny sketch-output side (|groups| rows), never shuffle-join the
    events scan against it, and keep partial aggregation for the sketch
    (ObjectHashAggregate partial_percentile_approx merges map-side)."""
    for name in ("a_percentiles_approx", "percentiles_daily_approx"):
        plan = _plan(spark, sf_dir, name)
        assert _count(plan, "BroadcastHashJoin") >= 1, name
        assert _count(plan, "CartesianProduct") == 0, name
        assert "percentile_approx" in plan, name


def test_sharded_blas_rerank_partitions_by_query_id(spark, sf_dir):
    """The shard loop's global re-rank must be a window PARTITIONED BY the
    query id (parallel at any corpus size) — never an empty-partition
    global window, and never a shuffle of anything but the candidate
    columns."""
    from delfos_etl_pipeline_spark.similarity.knn import (
        all_pairs_topk_blas_sharded,
    )
    from delfos_etl_pipeline_spark.sources.parquet import load_table

    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 60)
    df = all_pairs_topk_blas_sharded(emb, k=3, n_shards=2)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(id_a" in plan, plan


def test_equidepth_no_sort_boundaries_broadcast(spark, sf_dir):
    """hist_equidepth must NOT be the ntile trap: zero Sort nodes (the
    naive form global-sorts the fact table into one task), the 1-row
    boundary aggregate broadcasts into the binning projection, and the
    fact side never shuffles to meet it. The only single-partition stage
    is the 1-row boundary reduce itself — same accepted shape as
    hist_equiwidth's min/max."""
    plan = _plan(spark, sf_dir, "hist_equidepth")
    assert _count(plan, "Sort") == 0, plan
    assert _count(plan, "BroadcastNestedLoopJoin") == 1, plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin") == 0


def test_rolling_median_partitions_by_key(spark, sf_dir):
    """w6's window must hash-partition by event_type (parallel by key),
    never an empty partition spec."""
    plan = _plan(spark, sf_dir, "w6_rolling_median")
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(event_type" in plan, plan


def test_lm_score_model_tables_broadcast(spark, sf_dir):
    """The bigram LM's model is bounded by |alphabet|² — it must reach
    the scoring join as ONE broadcast of the driver-evaluated t table
    (the split-libm fix collapsed the former cb/cu broadcast pair), and
    the per-occurrence explode must not go cartesian."""
    plan = _plan(spark, sf_dir, "text_lm_bigram_score")
    assert _count(plan, "BroadcastHashJoin") >= 1, plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin") == 0, plan
    assert _count(plan, "CartesianProduct") == 0


def test_zorder_key_is_pure_projection(spark, sf_dir):
    """The Morton key is a codegen'd integer expression over the scan —
    no exchange, no join, no Python."""
    plan = _plan(spark, sf_dir, "layout_zorder_key")
    assert _count(plan, "Exchange") == 0, plan
    assert _count(plan, "BatchEvalPython") == 0
    assert _count(plan, "ArrowEvalPython") == 0


def test_corr_matrix_single_reduce(spark, sf_dir):
    """All 6 correlations from ONE scan + one scalar aggregate: the
    partial/final agg pair over a single exchange, no join at all. A
    second exchange is allowed ONLY for the conditional spread_scan
    repartition (round 15, guide §2.5 — fired here because the test
    corpus is a one-row-group file, a no-op on any input that yields
    >= defaultParallelism splits); the data-row shuffle ceiling is
    therefore 2, never more."""
    plan = _plan(spark, sf_dir, "profile_corr_matrix")
    assert _count(plan, "Join") == 0, plan
    assert _count(plan, "Exchange") <= 2, plan


def test_spearman_rank_tables_broadcast(spark, sf_dir):
    """The three ≤51-row rank tables must reach the fact scan as
    broadcasts — the fact rows themselves are never hash-exchanged for
    the rank transform."""
    plan = _plan(spark, sf_dir, "profile_spearman_corr")
    assert _count(plan, "BroadcastHashJoin") >= 3, plan
    assert _count(plan, "CartesianProduct") == 0


def test_pagerank_rounds_are_keyed_shuffles(spark, sf_dir):
    """Each power-iteration round is an edge join + keyed sum — no
    cartesian anywhere, no Python in the loop."""
    plan = _plan(spark, sf_dir, "graph_pagerank")
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, "BatchEvalPython") == 0
    assert _count(plan, "ArrowEvalPython") == 0


def test_basket_rules_pair_join_keyed_on_order(spark, sf_dir):
    """The pair self-join must be an equi-join on the order key with the
    support sides broadcast — never a part×part cartesian."""
    plan = _plan(spark, sf_dir, "basket_association_rules")
    assert _count(plan, "CartesianProduct") == 0, plan
    assert _count(plan, "BroadcastHashJoin") + _count(
        plan, "BroadcastNestedLoopJoin"
    ) >= 3, plan


def test_audio_features_zero_exchange(spark, sf_dir):
    """Synth + decode are two narrow Arrow stages — payload bytes never
    shuffle."""
    plan = _plan(spark, sf_dir, "mm_audio_features")
    assert _count(plan, "Exchange") == 0, plan


def test_jl_projection_is_narrow(spark, sf_dir):
    """The JL projection is a pure expression over the scan — no
    exchange before the long-form explode, no Python."""
    plan = _plan(spark, sf_dir, "emb_project_jl")
    assert _count(plan, "Exchange") == 0, plan
    assert _count(plan, "ArrowEvalPython") == 0
    assert _count(plan, "BatchEvalPython") == 0


def test_gapfill_no_cartesian_one_raw_agg(spark, sf_dir):
    """Gap-fill touches raw rows exactly once (the bucket agg); the
    calendar join and both fill windows run on bucket-cardinality data.
    No nested-loop/cartesian anywhere (the calendar join is an
    equi-join on (type, bucket))."""
    plan = _plan(spark, sf_dir, "ts_gapfill_locf")
    assert _count(plan, "CartesianProduct") == 0, plan
    assert _count(plan, "BroadcastNestedLoopJoin") == 0, plan
    # exactly one scan of the raw events table feeds the whole query
    assert plan.count("Location: InMemoryFileIndex") <= 1 or (
        _count(plan, "Scan parquet") <= 2
    ), plan


def test_inverted_index_no_unbounded_collect(spark, sf_dir):
    """Posting lists aggregate per (term, block) — the plan must key its
    aggregations on the composite key (skew-bounded buffers), never a
    plain global/term-only collect, and needs no Python."""
    plan = _plan(spark, sf_dir, "text_inverted_index")
    assert "block_id" in plan, plan
    assert _count(plan, "ArrowEvalPython") == 0
    assert _count(plan, "BatchEvalPython") == 0
    assert _count(plan, "CartesianProduct") == 0, plan


def test_triangles_no_global_rank_window(spark, sf_dir):
    """Triangle counting must realize the (degree, id) total order as
    struct comparison, never a global rank window — a single-partition
    window would serialize the whole graph through one task."""
    plan = _plan(spark, sf_dir, "graph_triangles")
    assert "SinglePartition" not in plan, plan
    assert _count(plan, "CartesianProduct") == 0, plan


def test_topk_per_group_dim_broadcast(spark, sf_dir):
    """Grouped top-k: nation broadcasts; the rank window input is the
    aggregated (nation, customer) table, not fact rows."""
    plan = _plan(spark, sf_dir, "o4_topk_per_group")
    assert _count(plan, "BroadcastHashJoin") >= 1, plan
    assert "SinglePartition" not in plan, plan


def test_prefix_join_no_cartesian(spark, sf_dir):
    """Prefix-filtered Jaccard: every join is keyed (shingle or doc) —
    no nested-loop fallback, no Python."""
    plan = _plan(spark, sf_dir, "dedup_jaccard_prefix")
    assert _count(plan, "CartesianProduct") == 0, plan
    assert _count(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert _count(plan, "ArrowEvalPython") == 0
    assert _count(plan, "BatchEvalPython") == 0


def test_standardize_params_broadcast(spark, sf_dir):
    """emb_standardize: the 1-row (mu, sigma) table joins back via
    broadcast; the standardizing transform is a JVM expression (no
    Python), and the only wide edge is the flat stats aggregation."""
    plan = _plan(spark, sf_dir, "emb_standardize")
    assert _count(plan, "BroadcastNestedLoopJoin") + _count(
        plan, "BroadcastHashJoin"
    ) >= 1, plan
    assert _count(plan, "CartesianProduct") == 0, plan
    assert _count(plan, "ArrowEvalPython") == 0
    assert _count(plan, "BatchEvalPython") == 0


def test_bloom_semi_join_probes_before_shuffle(spark, sf_dir):
    """j_bloom_semi_join: the bitmap ships as ONE broadcast row (a 1-row
    BroadcastNestedLoopJoin is constant glue, not a cartesian), the probe
    filter sits below any exchange of the fact side, and the residual
    exact semi-join is the only other join."""
    plan = _plan(spark, sf_dir, "j_bloom_semi_join")
    assert _count(plan, "BroadcastNestedLoopJoin") == 1, plan
    assert _count(plan, "CartesianProduct") == 0, plan
    assert "xxhash64" in plan  # probe runs as Catalyst expressions


def test_dupngram_no_self_join_no_cartesian(spark, sf_dir):
    """The substring-dedup tier must join instances to ONE frequency row
    each (1x fan-out) — no all-pairs shingle self-join, no cartesian."""
    plan = _plan(spark, sf_dir, "dedup_dupngram_fraction")
    assert _count(plan, "CartesianProduct") == 0, plan
    assert _count(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_ks_two_sample_no_partitionless_window(spark, sf_dir):
    """Both ECDF cumulative counts ride the range-partitioned two-phase
    scan: every Window node partitions by the scan's _pid column; a
    partitionless global window would serialize the corpus."""
    import re

    plan = _plan(spark, sf_dir, "ks_two_sample")
    # every window spec must carry the _pid partition column
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for spec in specs:
        assert "_pid" in spec, spec


def test_ewma_single_exchange_on_type(spark, sf_dir):
    """w8_ewma: one hash exchange on event_type feeds the sliding-frame
    window; no join, no extra shuffle."""
    import re

    plan = _plan(spark, sf_dir, "w8_ewma")
    assert _count(plan, "Exchange") == 1, plan
    hashed = re.findall(r"hashpartitioning\((\w+)", plan)
    assert hashed and all(c.startswith("event_type") for c in hashed), hashed


def test_cusum_windows_only_on_calendar_table(spark, sf_dir):
    """cusum_changepoint: the only ordered window runs over the daily
    (bucket-cardinality) table, the per-type stats broadcast back, and
    the raw scan appears once thanks to the persisted daily relation."""
    plan = _plan(spark, sf_dir, "cusum_changepoint")
    assert _count(plan, "BroadcastHashJoin") >= 1, plan
    assert _count(plan, "CartesianProduct") == 0, plan
    # the persisted daily table serves both consumers
    assert _count(plan, "InMemoryTableScan") >= 2, plan


def test_fuzzy_blocked_joins_on_block_keys(spark, sf_dir):
    """The pigeonhole fuzzy join must plan BOTH passes as equi-joins on
    the blocking segments — a cartesian (nested-loop on the levenshtein
    predicate alone) would be the n² plan the blocking exists to avoid."""
    plan = _plan(spark, sf_dir, "er_fuzzy_blocked")
    assert _count(plan, "CartesianProduct") == 0, plan
    assert _count(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_silhouette_broadcasts_centroids(spark, sf_dir):
    """Round 16 shape (VERDICT r15 item 4): the prototypes collapse to
    ONE broadcast row of per-label centroid arrays attached with a
    broadcast nested-loop cross (1 build row — never a cartesian of
    data rows), and each corpus row folds its k distances in place; the
    old dim_idx broadcast-join fan-out (n·64·k term rows through two
    hash aggregates) must stay gone. The explode survives only in the
    centroid-build branch."""
    plan = _plan(spark, sf_dir, "emb_silhouette_centroid")
    assert _count(plan, "BroadcastNestedLoopJoin") == 1, plan
    assert _count(plan, "CartesianProduct") == 0, plan
    # no join keyed on the exploded dim — the fan-out shape is gone
    assert _count(plan, "BroadcastHashJoin") == 0, plan
    # the in-place distance fold over the broadcast centroid arrays
    assert "zip_with" in plan, plan


def test_forecast_backtest_broadcasts_model(spark, sf_dir):
    """Seasonal backtest: the global-max date (1 row) and the
    |series|×24 model table both broadcast onto the test scan."""
    plan = _plan(spark, sf_dir, "forecast_seasonal_backtest")
    assert _count(plan, "BroadcastHashJoin") >= 1, plan
    assert _count(plan, "BroadcastNestedLoopJoin") >= 1, plan  # 1-row max date
    assert _count(plan, "CartesianProduct") == 0, plan


def test_abc_pareto_prefix_stays_parallel(spark, sf_dir):
    """The revenue prefix scan must be the two-phase range-partitioned
    shape: every cumulative WINDOW keyed by the partition id, never a
    partitionless window. (The grand-total scalar aggregate is allowed
    its 1-row SinglePartition boundary reduce.)"""
    plan = _plan(spark, sf_dir, "abc_pareto_parts")
    assert "rangepartitioning" in plan.lower(), plan
    assert "windowspecdefinition(_pid" in plan, plan
    import re

    assert not re.search(r"windowspecdefinition\((?!_pid)", plan), plan


def test_containment_reuses_pair_subtree(spark, sf_dir):
    """Directed containment consumes the aggregated pair relation twice
    (forward + reverse filters); the persisted subtree must appear as an
    InMemoryTableScan on both sides instead of recomputing the shingle
    join, and nothing may plan cartesian."""
    plan = _plan(spark, sf_dir, "dedup_containment")
    assert _count(plan, "CartesianProduct") == 0, plan
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_range_interval_window_partitions_by_series(spark, sf_dir):
    """The time-RANGE frame must ride a hash exchange on event_type —
    never a single global sort."""
    plan = _plan(spark, sf_dir, "w11_range_interval")
    assert "singlepartition" not in plan.lower(), plan


def test_attribution_position_windows_stay_keyed(spark, sf_dir):
    """Both window passes (user, then user×journey) must be partitioned;
    the per-journey rank must not collapse to one task."""
    plan = _plan(spark, sf_dir, "attribution_position_based")
    assert "singlepartition" not in plan.lower(), plan


def test_referential_orphans_broadcast_dim_keys(spark, sf_dir):
    """Every dimension-keyed FK edge must anti-join against a BROADCAST
    key set; only the lineitem→orders fact edge may shuffle."""
    plan = _plan(spark, sf_dir, "dq_referential_orphans")
    assert _count(plan, "BroadcastHashJoin") >= 5, plan
    shuffles = _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin")
    assert shuffles <= 2, plan


def test_w12_streak_single_exchange(spark, sf_dir):
    """Both streak windows share the (user_id, ts ordering): exactly one
    hash exchange, O(1) frame state (no join-back of an aggregate)."""
    plan = _plan(spark, sf_dir, "w12_streak_reset_count")
    assert _count(plan, "Exchange") == 1, plan
    assert "hashpartitioning(user_id" in plan


def test_funnel_negative_single_exchange(spark, sf_dir):
    """Running error count + carried-struct reversed running min + final
    per-user aggregation all key on user_id: one hash exchange, no
    self-join (the naive plan is a triple self-join)."""
    plan = _plan(spark, sf_dir, "funnel_negative_condition")
    assert _count(plan, "Exchange") == 1, plan
    assert (
        _count(plan, "SortMergeJoin")
        + _count(plan, "ShuffledHashJoin")
        + _count(plan, "BroadcastHashJoin")
        + _count(plan, "CartesianProduct")
        == 0
    ), plan


def test_uniqueness_profile_single_scan(spark, sf_dir):
    """The per-column stack must be ONE scan + explode — a union of
    projections re-scans the source per profiled column."""
    plan = _plan(spark, sf_dir, "dq_uniqueness_profile")
    assert _count(plan, "Scan parquet") == 1, plan
    assert _count(plan, "Generate") == 1, plan


def test_distributed_rank_no_single_partition_window(spark, sf_dir):
    """sample_systematic's global rank must never fall into the
    single-task global window: no SinglePartition exchange anywhere."""
    plan = _plan(spark, sf_dir, "sample_systematic")
    assert "SinglePartition" not in plan, plan
    assert _count(plan, "Exchange") >= 1  # the range partition


def test_readability_no_exchange(spark, sf_dir):
    """Flesch/FK scoring is a stateless projection: zero exchanges."""
    plan = _plan(spark, sf_dir, "text_readability")
    assert _count(plan, "Exchange") == 0, plan


def test_backlog_aging_broadcast_snapshot(spark, sf_dir):
    """The as-of scalar rides a broadcast; the status filter reaches the
    scan as a pushed filter."""
    plan = _plan(spark, sf_dir, "orders_backlog_aging")
    assert _count(plan, "BroadcastNestedLoopJoin") == 1, plan
    assert "o_orderstatus" in plan and "PushedFilters" in plan


def test_exact_substring_linear_no_selfjoin(spark, sf_dir):
    """Exact-substring removal must stay linear: the gram construction
    runs ONCE (persisted instance relation feeds both the frequency agg
    and the join), no all-pairs edge anywhere, and span reconstruction
    is pure array work — no window node."""
    plan = _plan(spark, sf_dir, "dedup_exact_substring")
    assert _count(plan, "Generate") == 1, plan
    assert _count(plan, "Scan parquet") <= 2, plan
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, "BroadcastNestedLoopJoin") == 0
    assert _count(plan, "Window") == 0, plan


def test_image_dhash_decode_once_banded_join(spark, sf_dir):
    """dHash near-dup: decode (MapInPandas) must run ONCE behind the
    persisted hash relation, the pair join must be banded (hash join),
    never an all-pairs nested-loop/cartesian edge."""
    plan = _plan(spark, sf_dir, "mm_image_dhash_dedup")
    assert _count(plan, "MapInPandas") == 1, plan
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, "BroadcastNestedLoopJoin") == 0


def test_scene_cuts_shuffle_free(spark, sf_dir):
    """mm_video_scene_cuts claims a single narrow pass: no Exchange, no
    join, no window anywhere in the plan."""
    plan = _plan(spark, sf_dir, "mm_video_scene_cuts")
    assert _count(plan, "Exchange") == 0, plan
    assert _count(plan, "Window") == 0
    assert _count(plan, "SortMergeJoin") + _count(plan, "BroadcastHashJoin") == 0


def test_url_manifest_metadata_only(spark, sf_dir):
    """dedup_url_manifest must never read the payload column: the scan
    schema carries only listing metadata (doc_id/source/lang/n_chars),
    not text."""
    plan = _plan(spark, sf_dir, "dedup_url_manifest")
    import re

    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and "text" not in m.group(1), m.group(0) if m else plan


def test_bpe_encode_broadcasts_lookup(spark, sf_dir):
    """The corpus-encode join must broadcast the model-sized lookup,
    never shuffle the word instances against it."""
    plan = _plan(spark, sf_dir, "text_bpe_encode_corpus")
    assert _count(plan, "BroadcastHashJoin") >= 1, plan
    assert _count(plan, "SortMergeJoin") == 0


def test_semdedup_no_allpairs_edge(spark, sf_dir):
    """dedup_semdedup_survivors: the candidate stage must stay banded —
    no cartesian/nested-loop edge anywhere in the composed plan."""
    plan = _plan(spark, sf_dir, "dedup_semdedup_survivors")
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, "BroadcastNestedLoopJoin") == 0


def test_domain_cap_metadata_scan_single_keyed_exchange(spark, sf_dir):
    """sample_domain_cap: scan must be metadata-only (no text column),
    with exactly one hash exchange (by source) feeding a KEYED window —
    no global sort, no join."""
    import re

    plan = _plan(spark, sf_dir, "sample_domain_cap")
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and "text" not in m.group(1), m.group(0) if m else plan
    assert _count(plan, "Exchange") == 1, plan
    assert _count(plan, "Scan parquet") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_boilerplate_strip_single_generate_no_window(spark, sf_dir):
    """curate_boilerplate_strip: the segment explode runs ONCE behind the
    persisted relation (both the frequency agg and the join read the
    InMemory scan), the boiler side joins as a hash join, and there is
    no window or all-pairs edge anywhere."""
    plan = _plan(spark, sf_dir, "curate_boilerplate_strip")
    assert _count(plan, "Generate") == 1, plan
    assert _count(plan, "Scan parquet") == 1, plan
    assert _count(plan, "Window") == 0
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, "BroadcastNestedLoopJoin") == 0


def test_ppl_buckets_distributed_ntile(spark, sf_dir):
    """curate_ppl_buckets: the tercile rank must come from the
    distributed form — any Window node is partition-id-local (from
    distributed_rank), never a bare per-lang partition; the per-lang
    count and LM model tables join as broadcasts; no all-pairs edge."""
    plan = _plan(spark, sf_dir, "curate_ppl_buckets")
    import re

    for mm in re.finditer(r"^\(\d+\) Window\n(?:.+\n)*?.*?partition.*$",
                          plan, flags=re.M):
        assert "_pid" in mm.group(0), mm.group(0)
    assert _count(plan, "BroadcastHashJoin") >= 2, plan
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, "BroadcastNestedLoopJoin") == 0


def test_fertility_broadcasts_encode_lookup(spark, sf_dir):
    """text_fertility_by_lang: the encode join must broadcast the
    model-sized lookup (same contract as text_bpe_encode_corpus); no
    window, no all-pairs edge."""
    plan = _plan(spark, sf_dir, "text_fertility_by_lang")
    assert _count(plan, "BroadcastHashJoin") >= 1, plan
    assert _count(plan, "SortMergeJoin") == 0
    assert _count(plan, "Window") == 0
    assert _count(plan, "CartesianProduct") == 0


def test_contamination_report_broadcasts_eval_side(spark, sf_dir):
    """curate_contamination_report: the corpus-vs-eval shingle join and
    the final report join must both be broadcast hash joins (the eval
    side is benchmark-sized); the corpus shingle stream never sorts."""
    plan = _plan(spark, sf_dir, "curate_contamination_report")
    assert _count(plan, "BroadcastHashJoin") >= 2, plan
    assert _count(plan, "SortMergeJoin") == 0, plan
    assert _count(plan, "CartesianProduct") == 0


def test_domain_temperature_metadata_scan(spark, sf_dir):
    """sample_domain_temperature: ONE metadata-only scan (source column
    only — never text), the 1-row weight total as the only nested-loop
    (broadcast-scalar crossJoin pattern), no window."""
    import re

    plan = _plan(spark, sf_dir, "sample_domain_temperature")
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and m.group(1) == "struct<source:string>", plan
    assert _count(plan, "Scan parquet") == 1
    assert _count(plan, "BroadcastNestedLoopJoin") <= 1
    assert _count(plan, "Window") == 0


def test_dedup_rate_by_source_hash_key_shuffles(spark, sf_dir):
    """dedup_rate_by_source: the augmented corpus shuffles as md5 keys
    (the keyed projection is persisted once for its two consumers); no
    window, no all-pairs edge, and text never survives past the keyed
    projection (group/join columns are key/doc_id/source only)."""
    plan = _plan(spark, sf_dir, "dedup_rate_by_source")
    assert _count(plan, "Window") == 0
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, "BroadcastNestedLoopJoin") == 0
    assert _count(plan, "InMemoryTableScan") >= 2, plan

def test_pipeline_substr_no_fulltext_shuffle_key(spark, sf_dir):
    """curate_pipeline_substr: the document-dedup stage must shuffle on
    the 16-byte md5 key, never on full document bodies — no
    hashpartitioning or Window keyed on raw text anywhere in the plan
    (VERDICT r7 item 3)."""
    import re

    plan = _plan(spark, sf_dir, "curate_pipeline_substr")
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        # search the WHOLE key list, not just the first element — a plan
        # shuffling on (md5(text), text) must fail too (ADVICE r8)
        # a BARE text# key at any position fails; text# inside an
        # expression (md5(text#12)) is exactly the allowed form
        assert not re.search(r"(^|, )text#", keys), m.group(0)
    assert _count(plan, "Window") == 0, plan

def test_image_dhash_wide_banded_no_allpairs(spark, sf_dir):
    """mm_image_dhash_wide: banded join only — no cartesian/nested-loop
    edge; the pair side never compares raw signatures all-pairs."""
    plan = _plan(spark, sf_dir, "mm_image_dhash_wide")
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, "BroadcastNestedLoopJoin") == 0

def test_quality_classifier_broadcasts_model(spark, sf_dir):
    """text_quality_classifier: the inference join must broadcast the
    model-sized weight table against the token stream — never shuffle
    the tokens into a sort-merge join with it."""
    plan = _plan(spark, sf_dir, "text_quality_classifier")
    assert _count(plan, "BroadcastHashJoin") >= 1, plan


def test_nightly_ingest_probes_indexes_not_corpus(spark, sf_dir):
    """curate_nightly_ingest: the composed nightly path must READ the
    three persisted indexes, never rebuild any corpus-side relation —
    the only documents.parquet scans are the two batch-side probes
    (substring grams + MinHash signatures), the only embeddings.parquet
    scan is the batch-side cell choice, and the gram / band-bucket /
    shingle / IVF-cell relations all come from restored index parquet
    (VERDICT r9 item 6: 'planshape pins zero corpus-side rebuild')."""
    import re

    plan = _plan(spark, sf_dir, "curate_nightly_ingest")
    locs = re.findall(r"Location: InMemoryFileIndex.*", plan)
    doc = [ln for ln in locs if "documents.parquet" in ln]
    emb = [ln for ln in locs if "embeddings.parquet" in ln]
    idx = [
        ln
        for ln in locs
        if "gram_index_" in ln or "minhash_index_" in ln or "nightly_ivf_" in ln
    ]
    # batch-side scans only: substring probe reads the batch twice
    # (token reconstruction + gram explode), MinHash probe once,
    # embeddings cell-choice once + once more inside the dynamic-
    # partition-pruning subquery on the IVF index scan — a from-scratch
    # form would add a corpus-side scan per stage
    assert len(doc) <= 3, doc
    assert len(emb) <= 2, emb
    assert len(idx) >= 4, locs
    # the IVF cell join actually partition-prunes the persisted index:
    # Spark plants a DPP subquery (batch cells -> cluster IN ...) on the
    # partitionBy(cluster) scan
    assert "dynamicpruning" in plan, plan
    # and NO scan carries the corpus-side filter: every doc_id/vec_id
    # modulo predicate in the plan must be the batch's (= 0), never the
    # standing corpus's (NOT (= 0))
    assert not re.search(r"NOT \(\((?:doc_id|vec_id)#\d+L? % 3\) = 0\)", plan)
    assert re.search(r"\(doc_id#\d+L? % 3\) = 0", plan)


def test_nightly_day2_probes_merged_indexes_not_corpus(spark, sf_dir):
    """curate_nightly_ingest_day2: the day-2 probe must read the MERGED
    persisted indexes (nightly_day2_* directories — day-0 build plus the
    day-1 keeps appended by merge_into_*), never rebuild any corpus-side
    relation and never re-derive the day-1 batch: the only documents/
    embeddings scans are the day-2 batch side (doc_id % 6 = 3 /
    vec_id % 6 = 3), with the same scan budget as the single-day
    flagship (VERDICT r10 item 1: 'planshape pins zero corpus-side
    rebuild including the merged partitions')."""
    import re

    plan = _plan(spark, sf_dir, "curate_nightly_ingest_day2")
    locs = re.findall(r"Location: InMemoryFileIndex.*", plan)
    doc = [ln for ln in locs if "documents.parquet" in ln]
    emb = [ln for ln in locs if "embeddings.parquet" in ln]
    idx = [ln for ln in locs if "nightly_day2_" in ln]
    assert len(doc) <= 3, doc
    assert len(emb) <= 2, emb
    assert len(idx) >= 4, locs
    # the IVF cell join still partition-prunes the merged index
    assert "dynamicpruning" in plan, plan
    # batch-side filters only: every modulo predicate must be the day-2
    # batch's (% 6 = 3) — never the standing corpus's (% 3 <> 0) and
    # never the day-1 batch's (% 6 = 0)
    assert re.search(r"\((?:doc_id|vec_id)#\d+L? % 6\) = 3", plan)
    assert not re.search(r"NOT \(\((?:doc_id|vec_id)#\d+L? % 3\) = 0\)", plan)
    assert not re.search(r"\((?:doc_id|vec_id)#\d+L? % 6\) = 0", plan)


def test_nightly_day3_probes_post_takedown_indexes(spark, sf_dir):
    """curate_nightly_ingest_day3: the post-takedown probe must read the
    day-3 private index state (nightly_day3_* — the merged generations
    plus the negative-refcount gram append and the MinHash/IVF tombstone
    relations), never rebuild any corpus-side relation: the documents/
    embeddings scans stay within the same batch-side budget as the other
    two flagships (the scan-count budget is the corpus-rebuild pin), the
    re-ingest batch is selected by BROADCAST semi-join against the
    manifest relation (never a thousand-literal isin folded into every
    scan), and the gram netting plus the tombstone anti-joins add index-
    side reads only (VERDICT r11 item 1: 'planshape pins zero corpus
    rebuild')."""
    import re

    plan = _plan(spark, sf_dir, "curate_nightly_ingest_day3")
    locs = re.findall(r"Location: InMemoryFileIndex.*", plan)
    doc = [ln for ln in locs if "documents.parquet" in ln]
    emb = [ln for ln in locs if "embeddings.parquet" in ln]
    idx = [ln for ln in locs if "nightly_day3_" in ln]
    assert len(doc) <= 3, doc
    assert len(emb) <= 2, emb
    # gram index (netting probe), band buckets, shingles, IVF cells,
    # plus at least one tombstone relation
    assert len(idx) >= 5, locs
    # manifest selection and tombstone exclusion are broadcast joins
    assert "BroadcastHashJoin" in plan
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
    # the manifest never degrades to literal isin lists in scan filters
    assert not re.search(r"doc_id#\d+L? IN \(", plan)
    # no scan re-derives a prior day's batch
    assert not re.search(r"\((?:doc_id|vec_id)#\d+L? % 6\) = 0", plan)


def test_nightly_day4_probes_compacted_indexes(spark, sf_dir):
    """curate_nightly_ingest_day4: the post-compaction probe must read
    ONLY the day-4 compacted state (nightly_day4_* — single-generation
    relations, no tombstone relation left anywhere in the plan), with
    the same batch-side scan budget as the other flagships and the
    manifest still applied as a broadcast semi-join. Compaction buys the
    plan LESS work, never more: versus day-3 there is no tombstone
    anti-join left to pay."""
    import re

    plan = _plan(spark, sf_dir, "curate_nightly_ingest_day4")
    locs = re.findall(r"Location: InMemoryFileIndex.*", plan)
    doc = [ln for ln in locs if "documents.parquet" in ln]
    emb = [ln for ln in locs if "embeddings.parquet" in ln]
    idx = [ln for ln in locs if "nightly_day4_" in ln]
    assert len(doc) <= 3, doc
    assert len(emb) <= 2, emb
    assert len(idx) >= 4, locs
    # physical reclamation is visible in the plan: no tombstone relation
    # is scanned anywhere
    assert not any("tombstones" in ln for ln in locs), locs
    # manifest selection is a broadcast semi-join, never literal isin
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan
    assert not re.search(r"doc_id#\d+L? IN \(", plan)
    # no scan re-derives a prior day's batch
    assert not re.search(r"\((?:doc_id|vec_id)#\d+L? % 6\) = 0", plan)


def test_nightly_day2_streamed_probes_streamed_indexes(spark, sf_dir):
    """curate_nightly_ingest_day2_streamed: the probe must read the
    STREAMING-merged state (nightly_day2s_* — day-0 clones plus the
    epoch-tagged micro-batch appends), with exactly the batch-side scan
    shape the batch-merged day-2 probe pins: the streaming sink changes
    how bytes arrived, never what the probe plan reads."""
    import re

    plan = _plan(spark, sf_dir, "curate_nightly_ingest_day2_streamed")
    locs = re.findall(r"Location: InMemoryFileIndex.*", plan)
    doc = [ln for ln in locs if "documents.parquet" in ln]
    emb = [ln for ln in locs if "embeddings.parquet" in ln]
    idx = [ln for ln in locs if "nightly_day2s_" in ln]
    assert len(doc) <= 3, doc
    assert len(emb) <= 2, emb
    assert len(idx) >= 4, locs
    assert "dynamicpruning" in plan, plan
    assert re.search(r"\((?:doc_id|vec_id)#\d+L? % 6\) = 3", plan)
    assert not re.search(r"NOT \(\((?:doc_id|vec_id)#\d+L? % 3\) = 0\)", plan)
    assert not re.search(r"\((?:doc_id|vec_id)#\d+L? % 6\) = 0", plan)
