"""Analytic window functions, percentiles (exact + mergeable sketch), grouping sets, distinct counting, rollups, range join, skew-salted aggregation (SURVEY §2.8 and §2.4 extensions).

Split from the monolithic queries.py registry (round 4); behavior
unchanged — importing this module registers its queries.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from delfos_etl_pipeline_spark.functions.stable import (
    round_half_up,
    sql_round_half_up,
)
from delfos_etl_pipeline_spark.queries._registry import _t, query

# ---------------------------------------------------------------------------
# W — analytic window functions (SURVEY §2.8 — beyond-reference surface)
# ---------------------------------------------------------------------------


@query(
    "w1_latest_per_key",
    oracle="""
    SELECT user_id, event_id, ts, value
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def w1_latest_per_key(spark, sf_dir):
    """row_number() latest-per-key — re-expresses O2's 'latest sample' and
    dedup-style logic as a ranking window (SURVEY §2.8)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "value")
    )


@query(
    "w2_lag_delta",
    oracle="""
    SELECT event_id, user_id,
           round(value - lag(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id), 6) AS value_delta
    FROM events
    """,
)
def w2_lag_delta(spark, sf_dir):
    """lag() frame-based delta per key — analytic window surface."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("value_delta"),
    )


@query(
    "w3_running_sum",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING), 4) AS running_value
    FROM events
    """,
)
def w3_running_sum(spark, sf_dir):
    """Explicit frame spec: cumulative per-key sum with ROWS UNBOUNDED
    PRECEDING — the frame-based analytic surface beyond ranking/lag."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
    )


@query(
    "a_percentiles",
    oracle="""
    SELECT event_type,
           floor((quantile_cont(value, 0.5)) * 1000000.0 + 0.5) / 1000000.0 AS p50,
           floor((quantile_cont(value, 0.9)) * 1000000.0 + 0.5) / 1000000.0 AS p90,
           floor((quantile_cont(value, 0.99)) * 1000000.0 + 0.5) / 1000000.0 AS p99
    FROM events
    GROUP BY event_type
    """,
)
def a_percentiles(spark, sf_dir):
    """Exact grouped percentiles (continuous interpolation) — Spark's
    percentile() matches SQL quantile_cont semantics. The corpus-scale
    path is the registered a_percentiles_approx twin: one-pass mergeable
    approx_percentile sketches with the rank-error guarantee itself
    oracle-certified."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        round_half_up(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        round_half_up(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        round_half_up(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


def _approx_rank_ok(q: float, approx_col: str, eps: float):
    """The sketch guarantee as a checkable claim: approx_percentile's
    result must be an element whose rank is within ±eps·n of q·n, i.e.
    count(value < ap) ≤ (q+eps)·n + 1 and count(value ≤ ap) ≥ (q−eps)·n − 1
    (±1 row of floor/ceil slack at the rank boundaries)."""
    n = F.count(F.lit(1))
    below = F.sum((F.col("value") < F.col(approx_col)).cast("long"))
    at_or_below = F.sum((F.col("value") <= F.col(approx_col)).cast("long"))
    return (below <= (q + eps) * n + 1) & (at_or_below >= (q - eps) * n - 1)


@query(
    "a_percentiles_approx",
    oracle="""
    SELECT event_type,
           floor((quantile_cont(value, 0.5)) * 1000000.0 + 0.5) / 1000000.0 AS p50_exact,
           floor((quantile_cont(value, 0.9)) * 1000000.0 + 0.5) / 1000000.0 AS p90_exact,
           floor((quantile_cont(value, 0.99)) * 1000000.0 + 0.5) / 1000000.0 AS p99_exact,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM events
    GROUP BY event_type
    """,
)
def a_percentiles_approx(spark, sf_dir):
    """MERGEABLE percentile sketches — the 100 TB path for a_percentiles:
    approx_percentile (Greenwald-Khanna style, accuracy=10000 → rank error
    ≤ n/10000) is a one-pass partial-aggregable sketch, no per-group sort.
    Sketch registers aren't portable to DuckDB, so (a_approx_distinct
    pattern) the oracle pins what IS: the exact percentiles, plus the
    claim that each sketch result's actual rank is within the documented
    ±eps·n bound — verified by joining the sketch output back and
    counting, so the correctness row certifies the GUARANTEE, not just
    row shape."""
    ev = _t(spark, sf_dir, "events")
    acc = 10_000
    eps = 1.0 / acc
    ap = ev.groupBy("event_type").agg(
        F.percentile_approx("value", F.lit(0.5), F.lit(acc)).alias("_a50"),
        F.percentile_approx("value", F.lit(0.9), F.lit(acc)).alias("_a90"),
        F.percentile_approx("value", F.lit(0.99), F.lit(acc)).alias("_a99"),
    )
    return (
        ev.join(F.broadcast(ap), "event_type")
        .groupBy("event_type")
        .agg(
            round_half_up(F.percentile("value", F.lit(0.5)), 6).alias("p50_exact"),
            round_half_up(F.percentile("value", F.lit(0.9)), 6).alias("p90_exact"),
            round_half_up(F.percentile("value", F.lit(0.99)), 6).alias("p99_exact"),
            _approx_rank_ok(0.5, "_a50", eps).alias("p50_ok"),
            _approx_rank_ok(0.9, "_a90", eps).alias("p90_ok"),
            _approx_rank_ok(0.99, "_a99", eps).alias("p99_ok"),
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark, sf_dir):
    """CUBE grouping-sets over the fact table — all 4 grouping combos in
    one pass (Spark expands to a single Expand+HashAggregate, not 4 scans)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INTEGER) * 2
             + CAST(grouping(l_linestatus) AS INTEGER) AS gid,
           count(*) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (finer control than CUBE: only 3 of the 4
    combos) with grouping_id disambiguation — gid distinguishes a real
    NULL group key from a rolled-up one. One Expand+HashAggregate pass,
    same as agg_cube."""
    li = _t(spark, sf_dir, "lineitem")
    gid = (
        F.grouping("l_returnflag").cast("int") * 2
        + F.grouping("l_linestatus").cast("int")
    )
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        gid.alias("gid"),
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "a_distinct_count",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def a_distinct_count(spark, sf_dir):
    """Exact grouped distinct-count (two-phase partial aggregation under
    the hood). The approximate sibling is a_approx_distinct."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "a_approx_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           TRUE AS within_5pct
    FROM events GROUP BY event_type
    """,
)
def a_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++, rsd=1%) — the 100 TB path for
    cardinality: mergeable sketches, no exact-distinct shuffle blow-up.
    Spark's HLL++ register values can't be replayed in DuckDB, so the
    oracle pins what IS portable: the exact cardinality, plus the claim
    that the sketch landed within 5% of it (a 5-sigma bound at rsd=1%) —
    turning the former rows-only row into a driver-checkable contract."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_exact"),
        (
            F.abs(
                F.approx_count_distinct("user_id", 0.01) - F.count_distinct("user_id")
            )
            <= 0.05 * F.count_distinct("user_id")
        ).alias("within_5pct"),
    )


@query(
    "hypertable_rollup",
    oracle=f"""
    WITH g AS (
      SELECT '10m' AS resolution, time_bucket(INTERVAL 10 MINUTE, ts) AS window_start,
             value FROM events
      UNION ALL
      SELECT '1h', time_bucket(INTERVAL 1 HOUR, ts), value FROM events
      UNION ALL
      SELECT '1d', time_bucket(INTERVAL 1 DAY, ts), value FROM events
    )
    SELECT resolution, window_start,
           count(*) AS n_rows,
           {sql_round_half_up("CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)", 4)}
             AS total,
           min(value) AS vmin,
           max(value) AS vmax,
           {sql_round_half_up("CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)", 6)}
             AS value_mean
    FROM g GROUP BY resolution, window_start
    """,
)
def hypertable_rollup(spark, sf_dir):
    """Hypertable-style continuous aggregate: 10m/1h/1d rollups from ONE
    raw scan — coarser grains re-aggregate the finer grain's partials
    (operators/rollup.py) instead of rescanning raw. The oracle computes
    each grain directly from raw rows, so the exact hash match proves
    partial re-aggregation loses nothing (sums in decimal, so
    accumulation order can't drift the values)."""
    from delfos_etl_pipeline_spark.operators.rollup import multi_resolution_rollup

    ev = _t(spark, sf_dir, "events")
    return multi_resolution_rollup(ev, "ts", "value")


@query(
    "ts_gapfill_locf",
    oracle=f"""
    WITH agg AS (
      SELECT event_type,
             time_bucket(INTERVAL 10 MINUTE, ts) AS window_start,
             count(*) AS n_rows,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_v
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, min(window_start) AS lo, max(window_start) AS hi
      FROM agg GROUP BY 1
    ),
    cal AS (
      SELECT event_type,
             unnest(generate_series(lo, hi, INTERVAL 10 MINUTE)) AS window_start
      FROM bounds
    ),
    joined AS (
      SELECT c.event_type, c.window_start,
             coalesce(a.n_rows, 0) AS n_rows, a.avg_v,
             row_number() OVER (
               PARTITION BY c.event_type ORDER BY c.window_start) AS rn
      FROM cal c LEFT JOIN agg a USING (event_type, window_start)
    ),
    filled AS (
      SELECT event_type, window_start, n_rows, avg_v, rn,
             last_value(avg_v IGNORE NULLS) OVER w_prev AS prev_v,
             last_value(CASE WHEN avg_v IS NOT NULL THEN rn END IGNORE NULLS)
               OVER w_prev AS prev_rn,
             first_value(avg_v IGNORE NULLS) OVER w_next AS next_v,
             first_value(CASE WHEN avg_v IS NOT NULL THEN rn END IGNORE NULLS)
               OVER w_next AS next_rn
      FROM joined
      WINDOW
        w_prev AS (PARTITION BY event_type ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY event_type ORDER BY rn
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, window_start,
           CAST(n_rows AS BIGINT) AS n_rows,
           (n_rows = 0) AS is_gap,
           {sql_round_half_up("prev_v", 6)} AS value_locf,
           {sql_round_half_up(
               "CASE WHEN avg_v IS NOT NULL THEN avg_v "
               "ELSE prev_v + (next_v - prev_v) * "
               "(CAST(rn - prev_rn AS DOUBLE) / (next_rn - prev_rn)) END", 6)}
             AS value_interp
    FROM filled
    """,
)
def ts_gapfill_locf(spark, sf_dir):
    """Gap-filled 10-minute rollup per event_type — completes the
    TimescaleDB `time_bucket_gapfill` surface: ts_gap_fill
    (operators/gapfill.py) covers densify + LOCF for gap-safe aggregates
    (count/max); this adds the part that one can't forward-fill naively —
    LINEAR INTERPOLATION of a mean between the bracketing observed
    buckets (`interpolate()` in Timescale terms), with the averages
    decimal-exact so the interpolated values hash-match cross-engine.

    Plan shape, and why it holds at 100 TB: the only pass over raw data
    is the bucket aggregation (map-side-combined groupBy). Everything
    after — per-type bounds, the dense calendar (sequence+explode), the
    left join, and both fill windows — operates on BUCKET-cardinality
    data (|types| x time-range/10min rows), independent of raw volume;
    the two fill windows share one hash exchange on event_type. The
    interpolation fraction uses the calendar row index rather than epoch
    arithmetic, so it is exact integer math until the final division in
    BOTH engines. Averages accumulate in DECIMAL(18,6) (the
    hypertable_rollup pattern) so accumulation order can't drift the
    hash. Leading/trailing gaps cannot occur by construction: each
    type's calendar spans [min observed bucket, max observed bucket], so
    prev_v/next_v are always defined on gap rows."""
    ev = _t(spark, sf_dir, "events")
    agg = (
        ev.groupBy("event_type", F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_v"),
        )
        .select("event_type", F.col("w.start").alias("window_start"), "n_rows", "avg_v")
        # agg feeds BOTH the calendar bounds and the fill join — persist
        # the bucket-cardinality table so the raw-scan groupBy (the only
        # pass over event rows) executes once, not twice.
        .persist()
    )
    bounds = agg.groupBy("event_type").agg(
        F.min("window_start").alias("lo"), F.max("window_start").alias("hi")
    )
    cal = bounds.select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 10 minutes"))
        ).alias("window_start"),
    )
    joined = (
        cal.join(agg, ["event_type", "window_start"], "left")
        .withColumn("n_rows", F.coalesce("n_rows", F.lit(0)))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("window_start")
            ),
        )
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # next_* via a REVERSED running last, not first() over an
    # UNBOUNDED FOLLOWING frame: Spark evaluates growing
    # unbounded-PRECEDING frames incrementally (O(n) per partition), but
    # a following frame re-scans forward past every null run per row —
    # O(n·gap), measured ~2 s of this query's ~3 s at sf0.1. The frame
    # [current, end) under ASC rn equals [start, current] under DESC rn,
    # and `last` picks the row nearest the current one — identical
    # semantics (oracle-recertified), linear cost, same single hash
    # exchange on event_type.
    w_next = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("rn"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_rn = F.when(F.col("avg_v").isNotNull(), F.col("rn"))
    filled = joined.select(
        "event_type",
        "window_start",
        "n_rows",
        "avg_v",
        "rn",
        F.last("avg_v", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(obs_rn, ignorenulls=True).over(w_prev).alias("prev_rn"),
        F.last("avg_v", ignorenulls=True).over(w_next).alias("next_v"),
        F.last(obs_rn, ignorenulls=True).over(w_next).alias("next_rn"),
    )
    interp = F.when(F.col("avg_v").isNotNull(), F.col("avg_v")).otherwise(
        F.col("prev_v")
        + (F.col("next_v") - F.col("prev_v"))
        * (
            (F.col("rn") - F.col("prev_rn")).cast("double")
            / (F.col("next_rn") - F.col("prev_rn"))
        )
    )
    return filled.select(
        "event_type",
        "window_start",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        (F.col("n_rows") == 0).alias("is_gap"),
        round_half_up(F.col("prev_v"), 6).alias("value_locf"),
        round_half_up(interp, 6).alias("value_interp"),
    )


@query(
    "range_join_intervals",
    oracle="""
    WITH iv AS (
      SELECT event_id AS err_id, ts AS w_start, ts + INTERVAL 30 MINUTE AS w_end
      FROM events WHERE event_type = 'error' AND event_id % 41 = 0
    )
    SELECT iv.err_id, e.event_id, e.ts, e.event_type
    FROM events e JOIN iv ON e.ts >= iv.w_start AND e.ts <= iv.w_end
    """,
)
def range_join_intervals(spark, sf_dir):
    """Range (interval-containment) join: every event inside a 30-minute
    window after selected error events — bucketed equi-join prefilter +
    exact refine (operators/rangejoin.py), a shuffle hash join instead of
    the BroadcastNestedLoopJoin Spark would plan for the raw BETWEEN."""
    from delfos_etl_pipeline_spark.operators.rangejoin import interval_join

    ev = _t(spark, sf_dir, "events")
    iv = (
        ev.where((F.col("event_type") == "error") & (F.col("event_id") % 41 == 0))
        .select(
            F.col("event_id").alias("err_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
        )
    )
    joined = interval_join(
        ev.select("event_id", "ts", "event_type"),
        iv,
        "ts",
        "w_start",
        "w_end",
        grain_seconds=1800,
    )
    return joined.select("err_id", "event_id", "ts", "event_type")


@query(
    "agg_salted_skew",
    oracle="""
    SELECT event_type,
           count(*)              AS n_events,
           round(sum(value), 4) AS total_value,
           round(avg(value), 6) AS avg_value,
           min(value)           AS min_value,
           max(value)           AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_salted_skew(spark, sf_dir):
    """Two-phase salted aggregation (operators/skew.py): groupBy on a
    5-value key — every key is 'hot' — via (key, salt) partials then a
    per-key merge. Bit-identical to the plain groupBy (the oracle IS the
    plain groupBy); the point is no reduce task ever holds more than
    ~1/n_salts of one key's rows. AQE splits skewed join partitions but
    NOT skewed aggregations — this is the engine's answer for those."""
    from delfos_etl_pipeline_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n_events": ("count", "*"),
            "total_value": ("sum", "value"),
            "avg_value": ("avg", "value"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
        n_salts=16,
    )
    return out.select(
        "event_type",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
        F.round("avg_value", 6).alias("avg_value"),
        "min_value",
        "max_value",
    )


@query(
    "w6_rolling_median",
    oracle="""
    SELECT event_id, event_type,
           floor((quantile_cont(value, 0.5) OVER (
             PARTITION BY event_type
             ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)) * 1000000.0 + 0.5)
             / 1000000.0 AS rolling_median
    FROM events
    """,
)
def w6_rolling_median(spark, sf_dir):
    """Rolling median of the trailing 100 events per type — the robust
    moving-aggregate an observability pipeline layers over noisy values
    (mean-based w3 shapes wash out under outliers; the median doesn't).
    Exact percentile as a WINDOW aggregate over a bounded ROWS frame,
    partitioned by event_type. COST MODEL (measured 5.9 s at sf0.1 —
    the most expensive headline query, deliberately): percentile is not
    an invertible aggregate, so Spark rebuilds the frame buffer per row —
    O(n · frame) total, linear in both, parallel by key. That product is
    the honest price of EXACTNESS here; it also partitions on
    event_type — a 5-value key, so parallelism caps at 5 tasks at ANY
    cluster size. The REGISTERED production path is
    w6_rolling_median_prod (halo-block rewrite, bit-identical output,
    parallelism n/4096 per type); further swaps when n·frame itself is
    too much work are (a) a t-digest/approx_percentile sketch column
    under the same window spec, or (b) pandas rolling-median via
    applyInPandas (O(n log frame) skip-list) when a per-key Arrow hop is
    acceptable. Frame order is (ts, event_id) — fully deterministic, so
    both engines aggregate identical frames."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-99, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "event_type",
        round_half_up(F.percentile("value", F.lit(0.5)).over(w), 6).alias(
            "rolling_median"
        ),
    )


@query(
    "w6_rolling_median_prod",
    oracle="""
    SELECT event_id, event_type,
           floor((quantile_cont(value, 0.5) OVER (
             PARTITION BY event_type
             ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)) * 1000000.0 + 0.5)
             / 1000000.0 AS rolling_median
    FROM events
    """,
)
def w6_rolling_median_prod(spark, sf_dir):
    """Scale-safe twin of w6_rolling_median (VERDICT r4 item 4): the
    SAME trailing-100 exact median, bit-identical output (it shares
    w6's oracle), but WITHOUT the 5-value partition-key ceiling. w6
    windows on event_type alone, so at any cluster size at most
    |types| = 5 tasks ever run. This twin makes bounded-ROWS-frame
    windows embarrassingly parallel via HALO BLOCKS:

    1. Per-type rank rn from operators/rank.py::distributed_rank.
    2. Each row lands in core block floor((rn-1)/4096) and is REPLAYED
       into the next block when it sits in the last 99 rows (the halo),
       so every block holds the full 99-row lookback its core rows
       need.
    3. The exact percentile window then keys on (event_type, block) —
       n/4096 independent tasks per type — and halo rows are dropped
       after serving as context.

    Every output row's frame is the identical ordered multiset w6
    builds, and F.percentile evaluates the identical interpolation, so
    the twin is hash-equal to the sequential plan — exactness certified
    by the shared oracle, not a weaker rows-only claim. The O(n*frame)
    per-row rebuild cost remains (the price of exactness; sketch and
    applyInPandas swaps trade it away) but now spreads over the whole
    cluster. Replication overhead: 99/4096 ~ 2.4% of rows. Honest
    crossover: at sf0.1 (20k rows/type) the extra passes make this
    SLOWER than w6 (measured 5.5 s vs 3.4 s, local[32]) — the sequential
    plan's 5 tasks aren't yet the bottleneck there; the twin exists for
    the regime where per-key row count x frame outgrows a single task,
    which a 5-key window can never escape and this plan's n/4096-way
    split does."""
    from delfos_etl_pipeline_spark.operators.rank import distributed_rank

    ev = _t(spark, sf_dir, "events")
    block, halo = 4096, 99
    ranked = distributed_rank(
        ev.select("event_id", "event_type", "ts", "value"),
        order_cols=("ts", "event_id"),
        key_cols=("event_type",),
    )
    pos = (F.col("rn") - 1) % block
    bcore = F.floor((F.col("rn") - 1) / block)
    member = F.when(
        pos >= block - halo,
        F.array(
            F.struct(bcore.alias("blk"), F.lit(True).alias("is_core")),
            F.struct((bcore + 1).alias("blk"), F.lit(False).alias("is_core")),
        ),
    ).otherwise(
        F.array(F.struct(bcore.alias("blk"), F.lit(True).alias("is_core")))
    )
    blocked = ranked.select(
        "event_id", "event_type", "rn", "value", F.explode(member).alias("m")
    ).select(
        "event_id",
        "event_type",
        "rn",
        "value",
        F.col("m.blk").alias("blk"),
        F.col("m.is_core").alias("is_core"),
    )
    w = (
        Window.partitionBy("event_type", "blk")
        .orderBy("rn")
        .rowsBetween(-halo, Window.currentRow)
    )
    return (
        blocked.withColumn(
            "rolling_median",
            round_half_up(F.percentile("value", F.lit(0.5)).over(w), 6),
        )
        .where(F.col("is_core"))
        .select("event_id", "event_type", "rolling_median")
    )


@query(
    "w7_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, ts, event_id,
           CAST(sum(first_seen) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS distinct_types_so_far
    FROM flagged
    """,
)
def w7_running_distinct(spark, sf_dir):
    """Running DISTINCT count over a window — a capability gap in both
    engines (`count(DISTINCT) OVER (... ROWS ...)` is unsupported in
    Spark), closed by the standard two-window rewrite: flag each row that
    is the FIRST occurrence of its (user, event_type), then a running sum
    of flags. Both windows key on user_id, so the whole query is ONE
    hash exchange; per-partition state is a row counter, not a distinct
    set — O(1) memory per frame instead of the O(types) a naive distinct
    window would hold, which is what lets it run at 100 TB. Ordering is
    total via the (ts, event_id) tiebreak, so results are deterministic
    and exactly hash-comparable."""
    ev = _t(spark, sf_dir, "events")
    first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    running = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn(
            "first_seen",
            F.when(F.row_number().over(first) == 1, 1).otherwise(0),
        )
        .select(
            "user_id",
            "ts",
            "event_id",
            F.sum("first_seen").over(running).cast("bigint").alias(
                "distinct_types_so_far"
            ),
        )
    )


@query(
    "w8_ewma",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), terms AS (
      SELECT a.event_id, a.event_type,
             CAST(floor(b.value * power(0.7, a.rn - b.rn) * 1000000000000.0
                        + 0.5) / 1000000000000.0 AS DECIMAL(24,12)) AS t,
             CAST(floor(power(0.7, a.rn - b.rn) * 1000000000000.0 + 0.5)
                  / 1000000000000.0 AS DECIMAL(24,12)) AS w
      FROM e a JOIN e b
        ON a.event_type = b.event_type
       AND b.rn BETWEEN a.rn - 19 AND a.rn
    )
    SELECT event_id, event_type,
           floor((CAST(sum(t) AS DOUBLE) / CAST(sum(w) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS ewma
    FROM terms GROUP BY event_id, event_type
    """,
)
def w8_ewma(spark, sf_dir):
    """Exponentially weighted moving average (alpha = 0.3, window = 20
    trailing rows) of `value` per event type — the smoothing primitive
    every monitoring/forecasting stack applies before thresholding
    (pandas `ewm`, Timescale `ewma`). The recursive EWMA definition is
    inherently sequential; the BOUNDED form (weights (1-alpha)^k over
    the trailing 20 observations, normalized) is the distributed
    version: one hash exchange on event_type, a 20-row sliding frame,
    and per-row arithmetic over the frame array — no global order, no
    driver loop, O(frame) per row.

    Exactness across engines: each weighted term (and each weight)
    rounds half-up to 12 dp into DECIMAL(24,12) BEFORE summation, so
    the numerator/denominator sums are order-independent; the oracle
    computes the same terms through a bounded rank self-join (its
    unordered aggregation cannot drift the decimal sums) and the final
    division is one identical IEEE op. power(0.7, k) agrees across
    engines on integer k (the ln/log2 contract the LM and entropy
    queries already established), and the 12-dp rounding absorbs any
    last-ulp libm variation."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    # materialize the frame list ONCE: referencing the window expression
    # in two derived columns makes Spark evaluate collect_list twice
    # (observed as _we0/_we1 in the plan)
    ev = ev.select(
        "event_id",
        "event_type",
        F.reverse(F.collect_list(F.col("value")).over(w)).alias("_rev"),
    )
    # frame-ordered values, newest last; reverse -> k = age in rows
    rev = F.col("_rev")
    terms = F.transform(
        rev,
        lambda x, i: round_half_up(x * F.pow(F.lit(0.7), i), 12).cast(
            "decimal(24,12)"
        ),
    )
    zero = F.lit(0).cast("decimal(24,12)")
    # decimal + decimal widens to (25,12); cast back so the fold keeps
    # the accumulator type (exact: 12 integer digits bound 20 terms of
    # value-scale magnitude with room to spare)
    num = F.aggregate(terms, zero, lambda a, x: (a + x).cast("decimal(24,12)"))
    # the denominator depends ONLY on frame size: precompute the 20
    # running weight sums as exact Decimals (python pow == host libm ==
    # the JVM pow that previously computed them — all certified by the
    # unchanged oracle) and look up by size, removing a second per-row
    # transform+fold over the frame (~40% of the query's work)
    import math
    from decimal import Decimal

    _wts = [
        Decimal(math.floor(0.7**i * 1e12 + 0.5)) / Decimal(10**12)
        for i in range(20)
    ]
    _dens, _acc = [], Decimal(0)
    for _w in _wts:
        _acc += _w
        _dens.append(_acc)
    den_arr = F.expr(
        "array("
        + ",".join(f"cast('{d}' as decimal(24,12))" for d in _dens)
        + ")"
    )
    den = F.element_at(den_arr, F.size(rev))
    return ev.select(
        "event_id",
        "event_type",
        round_half_up(num.cast("double") / den.cast("double"), 6).alias(
            "ewma"
        ),
    )


@query(
    "w9_percent_rank_cume",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           floor(percent_rank() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice, o_orderkey)
                 * 1000000.0 + 0.5) / 1000000.0 AS pr,
           floor(cume_dist() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey)
                 * 1000000.0 + 0.5) / 1000000.0 AS cd
    FROM orders
    """,
)
def w9_percent_rank_cume(spark, sf_dir):
    """percent_rank + cume_dist — the relative-standing analytic pair
    (where does each order sit in its priority class's price
    distribution), completing the ranking-window surface beyond
    row_number/ntile. Deterministic total order via the (price, key)
    tie-break; one hash exchange on the partition key; both functions
    evaluate in the same Window node (shared sort)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        round_half_up(F.percent_rank().over(w), 6).alias("pr"),
        round_half_up(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "w10_rolling_corr",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             floor((CAST(sum(CASE WHEN event_type = 'click'
                                  THEN CAST(value AS DECIMAL(18,6)) END)
                         AS DOUBLE)
                    / count(CASE WHEN event_type = 'click' THEN 1 END))
                   * 1000000.0 + 0.5) / 1000000.0 AS x,
             floor((CAST(sum(CASE WHEN event_type = 'purchase'
                                  THEN CAST(value AS DECIMAL(18,6)) END)
                         AS DOUBLE)
                    / count(CASE WHEN event_type = 'purchase' THEN 1 END))
                   * 1000000.0 + 0.5) / 1000000.0 AS y
      FROM events
      WHERE event_type IN ('click', 'purchase')
      GROUP BY CAST(ts AS DATE)
    ), s AS (
      SELECT day, x, y,
             count(*)                        OVER w AS n,
             CAST(sum(CAST(x AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sy,
             CAST(sum(CAST(x AS DECIMAL(18,6))
                      * CAST(x AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(18,6))
                      * CAST(y AS DECIMAL(18,6))) OVER w AS DOUBLE) AS syy,
             CAST(sum(CAST(x AS DECIMAL(18,6))
                      * CAST(y AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sxy
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT day, n,
           CASE WHEN n < 2
                     OR (n * sxx - sx * sx) * (n * syy - sy * sy) <= 0
                THEN NULL
                ELSE floor((n * sxy - sx * sy)
                           / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                           * 1000000.0 + 0.5) / 1000000.0
           END AS rolling_corr
    FROM s
    """,
)
def w10_rolling_corr(spark, sf_dir):
    """Trailing 14-day Pearson correlation between the click and purchase
    daily-mean series — the co-movement monitor (pairs-trading / metric
    coupling) that a point-in-time corr matrix can't give. One raw scan
    builds the conditional daily means; the five sufficient-statistic
    sums run over ONE shared 14-row sliding frame on the calendar-sized
    table (decimal partials, (37,12) products — exact at any frame
    order), and the closed-form corr division is a single identical IEEE
    expression. Degenerate frames (n<2 or zero variance) are NULL on
    both engines."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
    )
    dx = F.when(
        F.col("event_type") == "click", F.col("value").cast("decimal(18,6)")
    )
    dy = F.when(
        F.col("event_type") == "purchase",
        F.col("value").cast("decimal(18,6)"),
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        round_half_up(
            F.sum(dx).cast("double")
            / F.count(F.when(F.col("event_type") == "click", 1)),
            6,
        ).alias("x"),
        round_half_up(
            F.sum(dy).cast("double")
            / F.count(F.when(F.col("event_type") == "purchase", 1)),
            6,
        ).alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-13, Window.currentRow)
    xd = F.col("x").cast("decimal(18,6)")
    yd = F.col("y").cast("decimal(18,6)")
    s = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(xd).over(w).cast("double").alias("sx"),
        F.sum(yd).over(w).cast("double").alias("sy"),
        F.sum(xd * xd).over(w).cast("double").alias("sxx"),
        F.sum(yd * yd).over(w).cast("double").alias("syy"),
        F.sum(xd * yd).over(w).cast("double").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den2 = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select(
        "day",
        "n",
        F.when(
            (F.col("n") < 2) | (den2 <= 0), F.lit(None).cast("double")
        )
        .otherwise(round_half_up(num / F.sqrt(den2), 6))
        .alias("rolling_corr"),
    )


@query(
    "w11_range_interval",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(floor(epoch_us(ts) / 1000000.0) AS BIGINT) AS sec,
             value
      FROM events
    )
    SELECT event_id, event_type,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           floor((CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                  / (count(*) OVER w)) * 1000000.0 + 0.5) / 1000000.0
             AS mean_1h
    FROM e
    WINDOW w AS (PARTITION BY event_type ORDER BY sec
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def w11_range_interval(spark, sf_dir):
    """Time-RANGE window frame: trailing one-HOUR count and mean per
    event over its type's timeline — the frame is defined by the ORDER
    value (epoch seconds within [t−3600, t]), not by row positions, so
    bursts widen the frame and quiet spells shrink it; the row-frame
    windows (w3/w6/w8) cannot express this. RANGE frames are also
    tiebreak-free by construction: every row sharing the current second
    is in-frame regardless of sort order, so no (ts, event_id) pinning
    is needed for determinism. The mean accumulates DECIMAL(18,6) inside
    the running frame (order-free exact sum). 100 TB: one hash exchange
    on event_type + per-partition sort — same cost envelope as every
    other single-window query; Spark's RANGE implementation keeps a
    sliding frame buffer bounded by the densest hour per series."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "event_type",
        F.floor(F.unix_micros("ts") / F.lit(1000000.0)).cast("bigint").alias(
            "sec"
        ),
        "value",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    dec = F.col("value").cast("decimal(18,6)")
    return e.select(
        "event_id",
        "event_type",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_1h"),
        round_half_up(
            F.sum(dec).over(w).cast("double") / F.count(F.lit(1)).over(w), 6
        ).alias("mean_1h"),
    )


@query(
    "w12_streak_reset_count",
    oracle="""
    WITH f AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN value IS NULL OR value < 0 THEN 1 ELSE 0 END AS bad
      FROM events
    ), g AS (
      SELECT user_id, ts, event_id, value, bad,
             CAST(sum(bad) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS grp
      FROM f
    )
    SELECT user_id, ts, event_id,
           CAST(CASE WHEN bad = 1 THEN 0
                     ELSE row_number() OVER (
                            PARTITION BY user_id, grp
                            ORDER BY ts, event_id)
                          - CASE WHEN grp > 0 THEN 1 ELSE 0 END
                END AS BIGINT) AS streak_len
    FROM g
    """,
)
def w12_streak_reset_count(spark, sf_dir):
    """Reset-on-condition running count: each event's current streak of
    consecutive 'good' rows (value present and non-negative) per user,
    resetting to 0 at every bad row — the conditional-reset window
    recurrence behind health streaks, consecutive-success counters, and
    circuit-breaker logic, which no built-in frame expresses directly.
    Standard two-window rewrite: the running count of RESETS is an
    island id (constant between bad rows), then a row_number within
    (user, island) — minus one when the island opens with its reset row
    — is the streak. Both windows key on user_id and share the same
    (ts, event_id) total order, so Spark evaluates them in ONE hash
    exchange + sort (the w7_running_distinct shape); state per frame is
    a counter, O(1) memory at any scale. Pure integer arithmetic —
    exact with no rounding contract."""
    ev = _t(spark, sf_dir, "events")
    bad = F.when(
        F.col("value").isNull() | (F.col("value") < 0), 1
    ).otherwise(0)
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = ev.select(
        "user_id",
        "ts",
        "event_id",
        bad.alias("bad"),
        F.sum(bad).over(wrun).cast("bigint").alias("grp"),
    )
    wisl = Window.partitionBy("user_id", "grp").orderBy("ts", "event_id")
    streak = F.when(F.col("bad") == 1, F.lit(0)).otherwise(
        F.row_number().over(wisl)
        - F.when(F.col("grp") > 0, 1).otherwise(0)
    )
    return g.select(
        "user_id", "ts", "event_id", streak.cast("bigint").alias("streak_len")
    )
