"""Warehouse maintenance and event analytics: CDC merge/SCD2/diff, funnels, retention, anomaly flags, histograms, TWA, OLS trend, profiling, DQ expectations, session paths, weighted sampling, daily percentiles (exact + sketch).

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
from delfos_etl_pipeline_spark.queries._registry import _t, query, spread_scan
from delfos_etl_pipeline_spark.queries.windows_olap import _approx_rank_ok
from delfos_etl_pipeline_spark.session import local_frame

# ---------------------------------------------------------------------------
# CDC / warehouse maintenance + event analytics (beyond the reference's
# append-only ETL: MERGE, SCD2, funnels, retention, anomaly flags,
# histograms, time-weighted aggregates)
# ---------------------------------------------------------------------------


@query(
    "cdc_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT user_id, value, last_ts FROM (
        SELECT user_id, value, ts AS last_ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00')
      WHERE rn = 1
    ), chg AS (
      SELECT user_id, value, last_ts, op FROM (
        SELECT user_id, value, ts AS last_ts,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00')
      WHERE rn = 1
    )
    SELECT coalesce(b.user_id, c.user_id) AS user_id,
           CASE WHEN c.op = 'U' THEN c.value ELSE b.value END AS value,
           CASE WHEN c.op = 'U' THEN c.last_ts ELSE b.last_ts END AS last_ts,
           CAST(CASE WHEN c.op = 'U' THEN 1 ELSE 0 END AS INT) AS was_updated
    FROM base b FULL JOIN chg c ON b.user_id = c.user_id
    WHERE c.op IS NULL OR c.op = 'U'
    """,
)
def cdc_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics on plain parquet (operators/cdc.py): the
    pre-cutoff per-user snapshot is the base table, post-cutoff events are
    the changeset ('error' ⇒ delete the key, anything else ⇒ upsert),
    latest change per key wins. The reference only ever appends
    (/root/reference/etl/etl_process.py:156-163); this is the mutation
    shape a warehouse needs on top. Plan: two row_number windows + one
    full-outer join, all hashed on user_id — one logical exchange at
    scale."""
    from delfos_etl_pipeline_spark.operators.cdc import merge_upsert

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    base = (
        ev.filter(F.col("ts") < cut)
        .select("user_id", "value", F.col("ts").alias("last_ts"), "event_id")
    )
    from delfos_etl_pipeline_spark.operators.cdc import latest_per_key

    base = latest_per_key(base, "user_id", ("last_ts", "event_id")).drop("event_id")
    changes = ev.filter(F.col("ts") >= cut).select(
        "user_id",
        "value",
        F.col("ts").alias("last_ts"),
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return merge_upsert(base, changes, "user_id", "op", ("last_ts", "event_id"))


@query(
    "cdc_scd2_dim",
    oracle="""
    SELECT user_id, value,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS INT) AS is_current
    FROM events WHERE event_type = 'purchase'
    """,
)
def cdc_scd2_dim(spark, sf_dir):
    """Slowly-changing-dimension type-2 build from a change log
    (operators/cdc.py): each purchase event opens a version interval
    [valid_from, valid_to) closed by the user's next change; the open
    interval is flagged is_current. One lead() window — single shuffle on
    the business key."""
    from delfos_etl_pipeline_spark.operators.cdc import scd2_from_changes

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return scd2_from_changes(
        ev, "user_id", "ts", ("ts", "event_id"), ("value",)
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, ts, event_id, event_type,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS f1
      FROM events
    ), s2 AS (
      SELECT *, max(CASE WHEN event_type = 'view' AND f1 = 1
                         THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS f2
      FROM s1
    ), s3 AS (
      SELECT *, max(CASE WHEN event_type = 'click' AND f2 = 1
                         THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS f3
      FROM s2
    ), s4 AS (
      SELECT *, max(CASE WHEN event_type = 'purchase' AND f3 = 1
                         THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS f4
      FROM s3
    ), u AS (
      SELECT user_id, max(f1) AS f1, max(f2) AS f2,
             max(f3) AS f3, max(f4) AS f4
      FROM s4 GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(f1) AS BIGINT) AS n_step_1,
           CAST(sum(f2) AS BIGINT) AS n_step_2,
           CAST(sum(f3) AS BIGINT) AS n_step_3,
           CAST(sum(f4) AS BIGINT) AS n_step_4
    FROM u
    """,
)
def funnel_conversion(spark, sf_dir):
    """Strictly-ordered funnel signup → view → click → purchase
    (operators/funnel.py, the ClickHouse windowFunnel shape): running-max
    flags over ONE (user, ts) sort — step i counts only if steps 1..i-1
    already completed earlier in the same user's history. Per-user state
    is O(steps), no event-list materialization; the user_id exchange is
    the only shuffle."""
    from delfos_etl_pipeline_spark.operators.funnel import funnel_stages

    ev = _t(spark, sf_dir, "events")
    return funnel_stages(
        ev, "user_id", "ts", "event_type",
        ("signup", "view", "click", "purchase"), "event_id",
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH e AS (
      SELECT user_id AS usr, date_trunc('week', ts) AS wk FROM events
    ), c AS (
      SELECT usr, wk, min(wk) OVER (PARTITION BY usr) AS cohort_week FROM e
    ), d AS (
      SELECT DISTINCT usr, cohort_week,
             CAST((epoch(wk) - epoch(cohort_week)) / 604800 AS BIGINT)
               AS week_offset
      FROM c
    )
    SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_active
    FROM d GROUP BY cohort_week, week_offset
    """,
)
def retention_cohorts(spark, sf_dir):
    """Weekly cohort retention (operators/funnel.py): cohort = Monday week
    of each user's first event (unbounded window min — keeps rows, avoids
    the aggregate-and-rejoin double shuffle), activity = distinct whole-week
    offsets, counts = distinct users per (cohort, offset). Week arithmetic
    in exact epoch seconds so both engines bucket identically."""
    from delfos_etl_pipeline_spark.operators.funnel import (
        retention_cohorts as _cohorts,
    )

    return _cohorts(_t(spark, sf_dir, "events"), "user_id", "ts")


@query(
    "anomaly_zscore",
    oracle=f"""
    WITH s AS (
      SELECT event_id, event_type, value,
             count(value) OVER (PARTITION BY event_type) AS n_,
             CAST(sum(CAST(value AS DECIMAL(18,6)))
                    OVER (PARTITION BY event_type) AS DOUBLE) AS s_,
             CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
                    OVER (PARTITION BY event_type) AS DOUBLE) AS ss_
      FROM events
    ), z AS (
      SELECT event_id, event_type, value,
             (value - s_ / n_)
               / sqrt(greatest((ss_ - s_ * s_ / n_) / (n_ - 1), 0.0)) AS z_
      FROM s
    )
    SELECT event_id, event_type, value,
           {sql_round_half_up("z_", 4)} AS zscore
    FROM z WHERE abs(z_) > 3.0
    """,
)
def anomaly_zscore(spark, sf_dir):
    """Population z-score outlier flags per event_type: one whole-partition
    window computes (n, Σv, Σv²) — exact decimal sums so both engines see
    bit-identical doubles — then |z| > 3 marks anomalies. Unlike a
    groupBy+rejoin this keeps rows flowing through a single exchange; at
    100 TB the per-type state is three scalars."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    dec = F.col("value").cast("decimal(18,6)")
    s = F.sum(dec).over(w).cast("double")
    n = F.count("value").over(w)
    ss = F.sum(dec * dec).over(w).cast("double")
    zed = (F.col("value") - s / n) / F.sqrt(
        F.greatest((ss - s * s / n) / (n - 1), F.lit(0.0))
    )
    return (
        ev.select("event_id", "event_type", "value", zed.alias("z_"))
        .filter(F.abs(F.col("z_")) > 3.0)
        .select(
            "event_id", "event_type", "value",
            round_half_up(F.col("z_"), 4).alias("zscore"),
        )
    )


@query(
    "hist_equiwidth",
    oracle=f"""
    WITH mm AS (
      SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders
    ), b AS (
      SELECT CAST(least(19.0, floor((o_totalprice - mn) * 20.0 / (mx - mn)))
                  AS BIGINT) AS bucket,
             mn, mx
      FROM orders, mm
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
           {sql_round_half_up("min(mn) + bucket * (max(mx) - min(mn)) / 20.0", 4)}
             AS bucket_lo
    FROM b GROUP BY bucket
    """,
)
def hist_equiwidth(spark, sf_dir):
    """Equi-width 20-bucket histogram of order totals: global min/max
    reduce to ONE broadcast row (no collect — the 1-row aggregate is
    cross-joined, so the plan stays fully distributed and the binning
    projection is codegen), then a bucket group-by. The histogram shape
    every profiler/BI layer needs; bucket edges derived with the identical
    IEEE expression on both engines."""
    orders = _t(spark, sf_dir, "orders")
    mm = orders.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    p = F.col("o_totalprice")
    bucket = (
        F.least(
            F.lit(19.0),
            F.floor((p - F.col("mn")) * 20.0 / (F.col("mx") - F.col("mn"))).cast(
                "double"
            ),
        )
    ).cast("bigint")
    return (
        orders.crossJoin(F.broadcast(mm))
        .select(bucket.alias("bucket"), "mn", "mx")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            round_half_up(
                F.min("mn") + F.col("bucket") * (F.max("mx") - F.min("mn")) / 20.0,
                4,
            ).alias("bucket_lo"),
        )
        .select("bucket", "n_orders", "bucket_lo")
    )


@query(
    "twa_daily",
    oracle=f"""
    WITH s AS (
      SELECT event_type, time_bucket(INTERVAL 1 DAY, ts) AS bucket_start,
             CAST(value AS DECIMAL(18,6)) AS v,
             lead(epoch_us(ts)) OVER (PARTITION BY event_type,
                                      time_bucket(INTERVAL 1 DAY, ts)
                                      ORDER BY ts, event_id)
               - epoch_us(ts) AS dt_us
      FROM events
    )
    SELECT event_type, bucket_start,
           CAST(count(*) AS BIGINT) AS n_spans,
           {sql_round_half_up(
               "CAST(sum(v * dt_us) AS DOUBLE) / CAST(sum(dt_us) AS DOUBLE)", 6
           )} AS twa
    FROM s WHERE dt_us IS NOT NULL
    GROUP BY event_type, bucket_start
    """,
)
def twa_daily(spark, sf_dir):
    """Time-weighted daily average per event_type for irregular samples
    (TimescaleDB time_weight, operators/rollup.py:time_weighted_avg):
    LOCF hold-durations in exact integer microseconds, value·µs products
    summed in decimal — the closing division is the only float op. One
    (type, day) shuffle; per-row state is a single lead."""
    from delfos_etl_pipeline_spark.operators.rollup import time_weighted_avg

    return time_weighted_avg(
        _t(spark, sf_dir, "events"), "ts", "value", "event_type",
        bucket="1 day", tiebreak="event_id",
    ).select("event_type", "bucket_start", "n_spans", "twa")


@query(
    "streaming_dedup",
    oracle="""
    SELECT event_id, ts, value FROM events
    """,
)
def streaming_dedup(spark, sf_dir):
    """Exactly-once landing from an at-least-once stream:
    dropDuplicatesWithinWatermark over event_id on a stream that delivers
    EVERY row twice (the union'd parquet replays as separate files). State
    is bounded by the watermark — dedup keys older than the event-time
    horizon are evicted, which is what makes streaming dedup feasible on an
    unbounded stream (a plain dropDuplicates would grow state forever).
    The drained sink must equal the original table exactly."""
    import os as _os
    import tempfile

    from delfos_etl_pipeline_spark.streaming.runner import (
        read_parquet_stream,
        run_available_now,
    )

    base = tempfile.mkdtemp(prefix="delfos_dedup_")
    src = _os.path.join(base, "src")
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    # two identical deliveries, two files — the file source replays both
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    ev.coalesce(1).write.mode("append").parquet(src)

    stream = read_parquet_stream(spark, src, ev.schema)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = run_available_now(
        deduped,
        _os.path.join(base, "ckpt"),
        "streaming_dedup_sink",
        output_mode="append",
    )
    q.awaitTermination(300)
    return spark.table("streaming_dedup_sink")


@query(
    "w5_ntile_dist",
    oracle=f"""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal, c_custkey) AS BIGINT)
             AS quartile,
           {sql_round_half_up(
               "percent_rank() OVER (PARTITION BY c_mktsegment "
               "ORDER BY c_acctbal, c_custkey)", 6
           )} AS pct_rank,
           {sql_round_half_up(
               "cume_dist() OVER (PARTITION BY c_mktsegment "
               "ORDER BY c_acctbal, c_custkey)", 6
           )} AS cum_dist
    FROM customer
    """,
)
def w5_ntile_dist(spark, sf_dir):
    """Distribution windows the w1-w4 suite doesn't cover: ntile bucketing
    plus percent_rank/cume_dist relative positions per market segment —
    the quantile-assignment shape (customer scoring, percentile feature
    engineering). Deterministic under the (acctbal, custkey) total order;
    both ratio functions are single IEEE divisions of identical integer
    ranks, rounded half-up identically."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        round_half_up(F.percent_rank().over(w), 6).alias("pct_rank"),
        round_half_up(F.cume_dist().over(w), 6).alias("cum_dist"),
    )


@query(
    "profile_columns",
    oracle="""
    WITH s AS (
      SELECT 'o_orderstatus' AS col_name, o_orderstatus AS v FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
    )
    SELECT col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(v) AS BIGINT) AS n_null,
           CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
           min(v) AS min_val, max(v) AS max_val
    FROM s GROUP BY col_name
    """,
)
def profile_columns(spark, sf_dir):
    """One-pass multi-column data-profiling sweep (the df.summary /
    profiler surface): unpivot the audited columns into (col_name, value)
    rows, then a single grouped aggregate yields per-column row/null/
    distinct counts and min/max. Numerics are profiled through a
    locale-free integer cast (double→string formatting is not
    cross-engine stable, so doubles are excluded by contract). One
    shuffle regardless of how many columns are audited."""
    orders = _t(spark, sf_dir, "orders")
    s = orders.select(
        F.expr(
            "stack(3,"
            " 'o_orderstatus', o_orderstatus,"
            " 'o_orderpriority', o_orderpriority,"
            " 'o_custkey', CAST(o_custkey AS STRING)"
            ") AS (col_name, v)"
        )
    )
    return s.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.count(F.lit(1)) - F.count("v")).cast("bigint").alias("n_null"),
        F.countDistinct("v").cast("bigint").alias("n_distinct"),
        F.min("v").alias("min_val"),
        F.max("v").alias("max_val"),
    )


@query(
    "streaming_static_enrich",
    oracle=f"""
    WITH dim AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), p AS (
      SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events
    ), j AS (
      SELECT time_bucket(INTERVAL 1 DAY, e.ts) AS window_start,
             d.cohort_week, e.value
      FROM events e JOIN dim d ON e.user_id = d.user_id
    )
    SELECT window_start, cohort_week,
           CAST(count(*) AS BIGINT) AS n_events,
           {sql_round_half_up(
               "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)", 4
           )} AS value_sum
    FROM j, p
    GROUP BY window_start, cohort_week, wm
    HAVING window_start + INTERVAL 1 DAY <= wm
    """,
)
def streaming_static_enrich(spark, sf_dir):
    """Stream–static enrichment: a watermarked event stream joins a
    broadcast batch dimension (per-user cohort week) BEFORE a windowed
    aggregate — the standard "enrich the firehose with a small dim"
    topology. The static side is planned as a broadcast hash join per
    micro-batch (no stream-side shuffle for the join); append mode emits
    only finalized windows, so the oracle keeps exactly the windows whose
    end precedes the final watermark (max ts − 1 h)."""
    import os as _os
    import tempfile

    from delfos_etl_pipeline_spark.streaming.runner import (
        read_parquet_stream,
        run_available_now,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    dim = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )

    base = tempfile.mkdtemp(prefix="delfos_enrich_")
    src = _os.path.join(base, "src")
    ev.write.parquet(src)

    stream = read_parquet_stream(spark, src, ev.schema)
    dec = F.col("value").cast("decimal(18,6)")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 day"), "cohort_week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(dec).alias("_s"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "cohort_week",
            "n_events",
            round_half_up(F.col("_s").cast("double"), 4).alias("value_sum"),
        )
    )
    q = run_available_now(
        agg,
        _os.path.join(base, "ckpt"),
        "streaming_static_enrich_sink",
        output_mode="append",
    )
    q.awaitTermination(300)
    return spark.table("streaming_static_enrich_sink")


@query(
    "trend_slope_daily",
    oracle=f"""
    WITH s AS (
      SELECT event_type, time_bucket(INTERVAL 1 DAY, ts) AS day,
             (epoch_us(ts) - epoch_us(time_bucket(INTERVAL 1 DAY, ts)))
               // 1000000 AS x,
             CAST(value AS DECIMAL(18,6)) AS y
      FROM events
    ), a AS (
      SELECT event_type, day,
             CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(x * x) AS sxx,
             sum(y) AS sy, sum(x * y) AS sxy
      FROM s GROUP BY event_type, day
    )
    SELECT event_type, day, n,
           {sql_round_half_up(
               "(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
               " / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))",
               9,
           )} AS slope,
           {sql_round_half_up(
               "(CAST(sy AS DOUBLE) - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)"
               " * CAST(sy AS DOUBLE)) / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)"
               " * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / n",
               6,
           )} AS intercept
    FROM a WHERE n >= 2 AND n * sxx - sx * sx <> 0
    """,
)
def trend_slope_daily(spark, sf_dir):
    """Per-(event_type, day) least-squares trend — regression analytics as
    ONE aggregate, no UDF, no MLlib: x = seconds into the day (exact
    BIGINT), y in exact decimal, so the five sufficient statistics
    (n, Σx, Σx², Σy, Σxy) are order-independent and the closed-form
    slope/intercept divisions see bit-identical operands on any engine.
    The same shape distributes at 100 TB: partial aggregation map-side,
    five numbers per group, one shuffle."""
    ev = _t(spark, sf_dir, "events")
    day = F.window("ts", "1 day").start.alias("day")
    x = (F.unix_timestamp("ts") - F.unix_timestamp(F.date_trunc("day", "ts"))).cast(
        "bigint"
    )
    y = F.col("value").cast("decimal(18,6)")
    a = (
        ev.select("event_type", day, x.alias("x"), y.alias("y"))
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return (
        a.filter((n >= 2) & (n * F.col("sxx") - F.col("sx") * F.col("sx") != 0))
        .select(
            "event_type",
            "day",
            "n",
            round_half_up(slope, 9).alias("slope"),
            round_half_up(intercept, 6).alias("intercept"),
        )
    )


@query(
    "dq_expectations",
    oracle=f"""
    WITH a AS (
      SELECT count(*) AS n,
             sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS m_null,
             sum(CASE WHEN o_totalprice IS NULL
                        OR (o_totalprice >= 0.0 AND o_totalprice <= 1000000.0)
                      THEN 1 ELSE 0 END) AS m_rng,
             sum(CASE WHEN o_orderstatus IS NULL
                        OR o_orderstatus IN ('F', 'O', 'P')
                      THEN 1 ELSE 0 END) AS m_vin,
             count(DISTINCT o_orderkey) AS m_uniq
      FROM orders
    )
    SELECT 'null_rate(o_custkey)<0.01' AS check_name,
           {sql_round_half_up("CAST(m_null AS DOUBLE) / CAST(n AS DOUBLE)", 6)}
             AS metric,
           CAST(CASE WHEN CAST(m_null AS DOUBLE) / CAST(n AS DOUBLE) < 0.01
                     THEN 1 ELSE 0 END AS INT) AS passed
    FROM a
    UNION ALL
    SELECT 'range(o_totalprice)',
           {sql_round_half_up("CAST(m_rng AS DOUBLE) / CAST(n AS DOUBLE)", 6)},
           CAST(CASE WHEN CAST(m_rng AS DOUBLE) / CAST(n AS DOUBLE) = 1.0
                     THEN 1 ELSE 0 END AS INT)
    FROM a
    UNION ALL
    SELECT 'values_in(o_orderstatus)',
           {sql_round_half_up("CAST(m_vin AS DOUBLE) / CAST(n AS DOUBLE)", 6)},
           CAST(CASE WHEN CAST(m_vin AS DOUBLE) / CAST(n AS DOUBLE) = 1.0
                     THEN 1 ELSE 0 END AS INT)
    FROM a
    UNION ALL
    SELECT 'unique(o_orderkey)',
           {sql_round_half_up("CAST(m_uniq AS DOUBLE) / CAST(n AS DOUBLE)", 6)},
           CAST(CASE WHEN CAST(m_uniq AS DOUBLE) / CAST(n AS DOUBLE) = 1.0
                     THEN 1 ELSE 0 END AS INT)
    FROM a
    """,
)
def dq_expectations(spark, sf_dir):
    """Declarative data-quality suite (operators/expectations.py, the
    Deequ / Great-Expectations shape the reference's imperative validators
    imply): null-rate, value-range, categorical-domain, and unique-key
    checks over orders compile into ONE aggregate pass — a 100-check
    suite costs one scan at 100 TB, never one job per check."""
    from delfos_etl_pipeline_spark.operators.expectations import (
        null_rate_below,
        run_expectations,
        unique_key,
        value_range,
        values_in,
    )

    orders = _t(spark, sf_dir, "orders")
    return run_expectations(
        orders,
        [
            null_rate_below("o_custkey", 0.01),
            value_range("o_totalprice", 0.0, 1000000.0),
            values_in("o_orderstatus", ["F", "O", "P"]),
            unique_key("o_orderkey"),
        ],
    )


@query(
    "robust_stats_by_group",
    oracle="""
    WITH r AS (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS cnt
      FROM events
    ), med AS (
      SELECT event_type, value AS median_val
      FROM r WHERE rn = (cnt + 1) // 2
    ), d AS (
      SELECT r.event_type, abs(r.value - m.median_val) AS dev, r.event_id,
             m.median_val
      FROM r JOIN med m ON r.event_type = m.event_type
    ), rd AS (
      SELECT event_type, median_val, dev,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY dev, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS cnt
      FROM d
    )
    SELECT event_type, median_val, dev AS mad
    FROM rd WHERE rn = (cnt + 1) // 2
    """,
)
def robust_stats_by_group(spark, sf_dir):
    """Robust location/scale per group — median and MAD (median absolute
    deviation) — by deterministic ELEMENT PICK (lower median via
    row_number), never interpolation: interpolated quantiles mix floats
    with engine-specific formula shapes, while picking the (n+1)÷2-th
    sorted element is exact on any engine. Two sort-shuffles on the same
    key + one co-partitioned join; outlier-robust alternative to the
    z-score screen (anomaly_zscore) for heavy-tailed value columns."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    cw = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("cnt"),
    )
    med = r.filter(F.col("rn") == F.floor((F.col("cnt") + 1) / 2)).select(
        "event_type", F.col("value").alias("median_val")
    )
    d = r.join(med, "event_type").select(
        "event_type",
        "median_val",
        F.abs(F.col("value") - F.col("median_val")).alias("dev"),
        "event_id",
    )
    wd = Window.partitionBy("event_type").orderBy(
        F.col("dev").asc(), F.col("event_id").asc()
    )
    rd = d.select(
        "event_type",
        "median_val",
        "dev",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("cnt"),
    )
    return rd.filter(F.col("rn") == F.floor((F.col("cnt") + 1) / 2)).select(
        "event_type", "median_val", F.col("dev").alias("mad")
    )


@query(
    "text_chunk_overlap",
    oracle="""
    WITH p AS (
      SELECT doc_id, text, length(text) AS n,
             CASE WHEN length(text) <= 200 THEN 1
                  ELSE CAST(ceil((length(text) - 50) / 150.0) AS BIGINT)
             END AS n_chunks
      FROM documents
    )
    , u AS (
      SELECT doc_id, text, unnest(range(0, n_chunks)) AS i FROM p
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           substr(text, CAST(i * 150 + 1 AS BIGINT), 200) AS chunk,
           CAST(length(substr(text, CAST(i * 150 + 1 AS BIGINT), 200))
                AS BIGINT) AS chunk_chars
    FROM u
    """,
)
def text_chunk_overlap(spark, sf_dir):
    """Overlapping document chunking (the RAG / context-window splitter):
    200-char windows with 50-char overlap (stride 150). Chunk starts are
    a generated index sequence — a pure projection + explode, no shuffle
    at all; every engine row is (doc_id, chunk_idx, chunk). The chunk
    count formula guarantees full coverage (last chunk may be short,
    single chunk for docs ≤ window)."""
    docs = _t(spark, sf_dir, "documents")
    size, stride = 200, 150
    n = F.length("text")
    n_chunks = F.when(n <= size, F.lit(1)).otherwise(
        F.ceil((n - (size - stride)) / F.lit(float(stride)))
    )
    pre = docs.select("doc_id", "text", n_chunks.alias("_nc"))
    idx = F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_idx")
    with_idx = pre.select("doc_id", "text", idx)
    chunk = F.substring(
        F.col("text"), F.col("chunk_idx") * stride + 1, size
    )
    return with_idx.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        chunk.alias("chunk"),
        F.length(chunk).cast("bigint").alias("chunk_chars"),
    )


@query(
    "percentiles_daily",
    oracle="""
    WITH r AS (
      SELECT event_type, time_bucket(INTERVAL 1 DAY, ts) AS day, value,
             row_number() OVER (PARTITION BY event_type,
                                time_bucket(INTERVAL 1 DAY, ts)
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type,
                            time_bucket(INTERVAL 1 DAY, ts)) AS cnt
      FROM events
    )
    SELECT event_type, day,
           CAST(max(cnt) AS BIGINT) AS n,
           max(CASE WHEN rn = CAST(ceil(0.50 * cnt) AS BIGINT)
                    THEN value END) AS p50,
           max(CASE WHEN rn = CAST(ceil(0.95 * cnt) AS BIGINT)
                    THEN value END) AS p95,
           max(CASE WHEN rn = CAST(ceil(0.99 * cnt) AS BIGINT)
                    THEN value END) AS p99
    FROM r GROUP BY event_type, day
    """,
)
def percentiles_daily(spark, sf_dir):
    """Daily P50/P95/P99 per event_type by the NEAREST-RANK method (pick
    the ceil(q·n)-th sorted element) — the observability percentile table.
    Element pick, not interpolation, so values are exact row values and
    cross-engine stable; one sort-shuffle on (type, day), then a grouped
    conditional pick — the same plan at any corpus size."""
    ev = _t(spark, sf_dir, "events")
    day = F.window("ts", "1 day").start.alias("day")
    w = Window.partitionBy("event_type", "day").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    cw = Window.partitionBy("event_type", "day")
    r = ev.select("event_type", day, "value", "event_id").select(
        "event_type",
        "day",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("cnt"),
    )

    def pick(q: float):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("cnt")).cast("bigint"),
                F.col("value"),
            )
        )

    return r.groupBy("event_type", "day").agg(
        F.max("cnt").cast("bigint").alias("n"),
        pick(0.50).alias("p50"),
        pick(0.95).alias("p95"),
        pick(0.99).alias("p99"),
    )


@query(
    "percentiles_daily_approx",
    oracle="""
    SELECT event_type, time_bucket(INTERVAL 1 DAY, ts) AS day,
           CAST(count(*) AS BIGINT) AS n,
           floor((quantile_cont(value, 0.5)) * 1000000.0 + 0.5) / 1000000.0 AS p50_exact,
           floor((quantile_cont(value, 0.95)) * 1000000.0 + 0.5) / 1000000.0 AS p95_exact,
           floor((quantile_cont(value, 0.99)) * 1000000.0 + 0.5) / 1000000.0 AS p99_exact,
           TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
    FROM events
    GROUP BY 1, 2
    """,
)
def percentiles_daily_approx(spark, sf_dir):
    """The mergeable-sketch production form of percentiles_daily: at
    100 TB the per-(type, day) sort-shuffle of the exact nearest-rank
    query gives way to one-pass approx_percentile sketches that combine
    map-side and merge across partitions. Same contract as
    a_percentiles_approx: the oracle pins the exact per-group percentiles
    plus the verified claim that each sketch result's rank sits within
    the documented ±n/accuracy bound (checked by re-joining the sketch
    output and counting — the guarantee itself is driver-certified)."""
    ev = _t(spark, sf_dir, "events")
    acc = 10_000
    eps = 1.0 / acc
    day = F.window("ts", "1 day").start.alias("day")
    base = ev.select("event_type", day, "value")
    ap = base.groupBy("event_type", "day").agg(
        F.percentile_approx("value", F.lit(0.5), F.lit(acc)).alias("_a50"),
        F.percentile_approx("value", F.lit(0.95), F.lit(acc)).alias("_a95"),
        F.percentile_approx("value", F.lit(0.99), F.lit(acc)).alias("_a99"),
    )
    return (
        base.join(F.broadcast(ap), ["event_type", "day"])
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            round_half_up(F.percentile("value", F.lit(0.5)), 6).alias("p50_exact"),
            round_half_up(F.percentile("value", F.lit(0.95)), 6).alias("p95_exact"),
            round_half_up(F.percentile("value", F.lit(0.99)), 6).alias("p99_exact"),
            _approx_rank_ok(0.5, "_a50", eps).alias("p50_ok"),
            _approx_rank_ok(0.95, "_a95", eps).alias("p95_ok"),
            _approx_rank_ok(0.99, "_a99", eps).alias("p99_ok"),
        )
    )


@query(
    "cdc_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT user_id, value FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00')
      WHERE rn = 1
    ), new AS (
      SELECT user_id, value FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      WHERE rn = 1
    )
    SELECT coalesce(o.user_id, n.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'I'
                WHEN n.user_id IS NULL THEN 'D'
                ELSE 'U' END AS op,
           o.value AS before_value,
           n.value AS after_value
    FROM old o FULL JOIN new n ON o.user_id = n.user_id
    WHERE o.user_id IS NULL OR n.user_id IS NULL
       OR o.value IS DISTINCT FROM n.value
    """,
)
def cdc_snapshot_diff(spark, sf_dir):
    """Change-feed GENERATION — the inverse of cdc_merge_upsert: diff two
    snapshot versions into (op I/U/D, before, after) rows, the changeset
    a downstream consumer replays. One co-partitioned full-outer join +
    null-safe inequality; unchanged keys drop out, so the feed is sized
    by the churn, not the table (operators/cdc.py:snapshot_diff)."""
    from delfos_etl_pipeline_spark.operators.cdc import (
        latest_per_key,
        snapshot_diff,
    )

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    old = latest_per_key(
        ev.filter(F.col("ts") < cut).select("user_id", "value", "ts", "event_id"),
        "user_id",
        ("ts", "event_id"),
    ).select("user_id", "value")
    new = latest_per_key(
        ev.select("user_id", "value", "ts", "event_id"),
        "user_id",
        ("ts", "event_id"),
    ).select("user_id", "value")
    return snapshot_diff(old, new, "user_id", ("value",))


@query(
    "funnel_windowed",
    oracle="""
    WITH sg AS (
      SELECT user_id, event_id AS att, ts AS t1,
             ts + INTERVAL 24 HOUR AS deadline
      FROM events WHERE event_type = 'signup'
    ), a2 AS (
      SELECT sg.att, sg.user_id, sg.t1, sg.deadline, min(v.ts) AS t2
      FROM sg LEFT JOIN events v
        ON v.user_id = sg.user_id AND v.event_type = 'view'
       AND v.ts > sg.t1 AND v.ts <= sg.deadline
      GROUP BY sg.att, sg.user_id, sg.t1, sg.deadline
    ), a3 AS (
      SELECT a2.att, a2.user_id, a2.deadline, a2.t2, min(c.ts) AS t3
      FROM a2 LEFT JOIN events c
        ON c.user_id = a2.user_id AND c.event_type = 'click'
       AND c.ts > a2.t2 AND c.ts <= a2.deadline
      GROUP BY a2.att, a2.user_id, a2.deadline, a2.t2
    ), a4 AS (
      SELECT a3.att, a3.t2, a3.t3, min(p.ts) AS t4
      FROM a3 LEFT JOIN events p
        ON p.user_id = a3.user_id AND p.event_type = 'purchase'
       AND p.ts > a3.t3 AND p.ts <= a3.deadline
      GROUP BY a3.att, a3.t2, a3.t3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_attempts,
           CAST(count(t2) AS BIGINT) AS n_view_24h,
           CAST(count(t3) AS BIGINT) AS n_click_24h,
           CAST(count(t4) AS BIGINT) AS n_purchase_24h
    FROM a4
    """,
)
def funnel_windowed(spark, sf_dir):
    """TIME-BOUNDED funnel (ClickHouse windowFunnel semantics): per signup
    attempt, the next steps must occur in order WITHIN 24 h of that
    signup — view after signup, click after that view, purchase after
    that click, all before the deadline. Three banded left joins, each
    hashed on user_id and collapsed by a min-aggregate per attempt, so
    per-user fan-out is bounded by the time band, never all-pairs; a
    null step propagates as a null band (no match) and the attempt
    simply stops converting."""
    ev = _t(spark, sf_dir, "events")
    sg = ev.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("att"),
        F.col("ts").alias("t1"),
        (F.col("ts") + F.expr("INTERVAL 24 HOURS")).alias("deadline"),
    )
    vw = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("ts").alias("vts")
    )
    ck = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    pu = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    a2 = (
        sg.join(
            vw,
            (F.col("vu") == F.col("u"))
            & (F.col("vts") > F.col("t1"))
            & (F.col("vts") <= F.col("deadline")),
            "left",
        )
        .groupBy("att", "u", "t1", "deadline")
        .agg(F.min("vts").alias("t2"))
    )
    a3 = (
        a2.join(
            ck,
            (F.col("cu") == F.col("u"))
            & (F.col("cts") > F.col("t2"))
            & (F.col("cts") <= F.col("deadline")),
            "left",
        )
        .groupBy("att", "u", "deadline", "t2")
        .agg(F.min("cts").alias("t3"))
    )
    a4 = (
        a3.join(
            pu,
            (F.col("pu") == F.col("u"))
            & (F.col("pts") > F.col("t3"))
            & (F.col("pts") <= F.col("deadline")),
            "left",
        )
        .groupBy("att", "t2", "t3")
        .agg(F.min("pts").alias("t4"))
    )
    return a4.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_attempts"),
        F.count("t2").cast("bigint").alias("n_view_24h"),
        F.count("t3").cast("bigint").alias("n_click_24h"),
        F.count("t4").cast("bigint").alias("n_purchase_24h"),
    )


@query(
    "ab_test_zstat",
    oracle=f"""
    WITH a AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS variant,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(value AS DECIMAL(18,6))) AS s,
             sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
               AS ss
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    ), m AS (
      SELECT variant, n,
             CAST(s AS DOUBLE) / n AS mean,
             (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
               / (n - 1) AS var
      FROM a
    )
    SELECT c.n AS n_control, t.n AS n_treat,
           {sql_round_half_up("c.mean", 6)} AS mean_control,
           {sql_round_half_up("t.mean", 6)} AS mean_treat,
           {sql_round_half_up(
               "(t.mean - c.mean) / sqrt(t.var / t.n + c.var / c.n)", 6
           )} AS zstat
    FROM (SELECT * FROM m WHERE variant = 0) c,
         (SELECT * FROM m WHERE variant = 1) t
    """,
)
def ab_test_zstat(spark, sf_dir):
    """Two-sample A/B z-statistic on purchase values (variant = user_id
    parity — the deterministic hash-bucketing an experiment platform
    uses): per-variant (n, Σv, Σv²) from ONE grouped aggregate in exact
    decimal, Welch z from the closed form — the experiment-readout query,
    bit-stable on any engine, one shuffle of two groups."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    dec = F.col("value").cast("decimal(18,6)")
    a = ev.groupBy((F.col("user_id") % 2).cast("bigint").alias("variant")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec).alias("s"),
        F.sum(dec * dec).alias("ss"),
    )
    n = F.col("n")
    s = F.col("s").cast("double")
    ss = F.col("ss").cast("double")
    m = a.select(
        "variant", "n", (s / n).alias("mean"),
        ((ss - s * s / n) / (n - 1)).alias("var"),
    )
    c = m.where(F.col("variant") == 0).select(
        F.col("n").alias("n_control"),
        F.col("mean").alias("_mc"),
        F.col("var").alias("_vc"),
    )
    t = m.where(F.col("variant") == 1).select(
        F.col("n").alias("n_treat"),
        F.col("mean").alias("_mt"),
        F.col("var").alias("_vt"),
    )
    z = (F.col("_mt") - F.col("_mc")) / F.sqrt(
        F.col("_vt") / F.col("n_treat") + F.col("_vc") / F.col("n_control")
    )
    return c.crossJoin(t).select(
        "n_control",
        "n_treat",
        round_half_up(F.col("_mc"), 6).alias("mean_control"),
        round_half_up(F.col("_mt"), 6).alias("mean_treat"),
        round_half_up(z, 6).alias("zstat"),
    )


@query(
    "session_paths",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    ), paths AS (
      SELECT user_id, session_no,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sess GROUP BY user_id, session_no
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path ASC
    LIMIT 20
    """,
)
def session_paths(spark, sf_dir):
    """Top user paths (ordered event-type sequences per 30-min session) —
    the navigation-flow / drop-off analysis query. Sessions via native
    session_window; the path is built ARRAY-side (sort_array of
    (ts, event_id, type) structs → join) so no per-session iteration
    exists anywhere; then a plain count + top-k. Per-session state is
    the event list — bounded by the inactivity gap, not the user's
    lifetime history."""
    ev = _t(spark, sf_dir, "events")
    path = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ),
        ">",
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


@query(
    "sample_weighted_ares",
    oracle="""
    WITH u AS (
      SELECT doc_id, n_chars,
             (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              + 1) / 4294967296.0 AS u
      FROM documents
    )
    SELECT doc_id, n_chars,
           {pri_round} AS priority
    FROM u
    ORDER BY ln(u) / n_chars DESC, doc_id ASC
    LIMIT 50
    """.format(pri_round=sql_round_half_up("ln(u) / n_chars", 9)),
)
def sample_weighted_ares(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-Res,
    deterministic): each doc draws u ∈ (0,1] from an md5 hash of its id
    and competes with priority u^(1/weight) — equivalently ln(u)/weight,
    compared monotonically — weight = document length. Top-k by priority
    is the weighted sample: ONE scan + TakeOrderedAndProject, no shuffle
    of the corpus, reproducible across runs and engines (the md5 draw
    mirrors bit-for-bit; ln and the division see identical operands).
    The proportional-to-length sample a token-budget curation pass wants
    when it can't afford a global prefix sum."""
    docs = _t(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        + 1
    ) / F.lit(4294967296.0)
    pri = F.log(u) / F.col("n_chars")
    return (
        docs.select("doc_id", "n_chars", pri.alias("_p"))
        .orderBy(F.desc("_p"), F.asc("doc_id"))
        .limit(50)
        # round_half_up on BOTH sides — the repo-wide cross-engine rounding
        # contract (plain round() ties at the 9th decimal could diverge
        # between engines; ADVICE r3)
        .select(
            "doc_id", "n_chars", round_half_up(F.col("_p"), 9).alias("priority")
        )
    )


@query(
    "hist_equidepth",
    oracle="""
    WITH b AS (
      SELECT [quantile_cont(value, 0.1), quantile_cont(value, 0.2),
              quantile_cont(value, 0.3), quantile_cont(value, 0.4),
              quantile_cont(value, 0.5), quantile_cont(value, 0.6),
              quantile_cont(value, 0.7), quantile_cont(value, 0.8),
              quantile_cont(value, 0.9)] AS bs
      FROM events
    )
    SELECT CAST(1 + list_sum(list_transform(b.bs,
             x -> CASE WHEN e.value > x THEN 1 ELSE 0 END)) AS BIGINT)
             AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           min(e.value) AS lo,
           max(e.value) AS hi
    FROM events e CROSS JOIN b
    GROUP BY 1
    """,
)
def hist_equidepth(spark, sf_dir):
    """Equal-FREQUENCY histogram (10 deciles buckets) — the complement of
    hist_equiwidth for skewed distributions. The naive form is
    ntile(10) OVER (ORDER BY value): a partitionless global-sort window
    that collapses to ONE task — the repo's canonical scale trap.
    Instead: one aggregate computes the 9 decile boundaries, the 1-row
    boundary array cross-joins back (broadcast), and each row's bucket is
    1 + #boundaries-below — a pure narrow comparison against 9 broadcast
    doubles, then an ordinary grouped agg. Two scans, ZERO sorts. The one
    single-partition stage left is the 1-row boundary reduce itself; its
    exact-percentile merge buffers scale with distinct values, so at
    corpus scale swap the boundary expression to approx_percentile (a
    mergeable fixed-size sketch — one-line change, buckets become
    approximate deciles; the a_percentiles_approx rank-bound harness
    shows how to certify it). (Boundary-equal values group with the
    lower bucket on both engines: strict > both sides.)"""
    ev = _t(spark, sf_dir, "events")
    qs = [i / 10.0 for i in range(1, 10)]
    b = ev.agg(
        F.percentile("value", F.array(*[F.lit(q) for q in qs])).alias("bs")
    )
    bucket = (
        F.aggregate(
            F.col("bs"),
            F.lit(0),
            lambda acc, x: acc + F.when(F.col("value") > x, 1).otherwise(0),
        )
        + 1
    ).cast("bigint")
    return (
        ev.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


@query(
    "dau_wau_rolling",
    oracle="""
    WITH du AS (
      SELECT DISTINCT time_bucket(INTERVAL 1 DAY, ts) AS day, user_id
      FROM events
    ),
    contrib AS (
      SELECT unnest(generate_series(day, day + INTERVAL 6 DAY,
                                    INTERVAL 1 DAY)) AS day,
             user_id
      FROM du
    ),
    wau AS (
      SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      FROM contrib GROUP BY 1
    ),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1)
    SELECT dau.day AS day, dau.dau AS dau, wau.wau AS wau,
           round(dau.dau * 1.0 / wau.wau, 6) AS stickiness
    FROM dau JOIN wau USING (day)
    """,
)
def dau_wau_rolling(spark, sf_dir):
    """DAU / trailing-7-day WAU / stickiness per day — the product-
    analytics daily actives table. The naive WAU is a band join (every
    day × every day-user row within 6 days: |du|·|days| comparisons via
    nested loop) or a windowed COUNT DISTINCT (non-algebraic over
    frames). Instead each (day, user) row is EXPLODED into the ≤7 future
    days it contributes to — a narrow 7× fan-out — and WAU is an
    ordinary day-keyed distinct count with map-side partials. Linear in
    events at any corpus size, every exchange keyed by day. DAU joins in
    on day (|days| rows — broadcastable). At larger windows (MAU=30) the
    same shape holds at 30× fan-out; beyond that, per-day HLL sketches
    union across the frame (a_approx_distinct shows the certification
    pattern)."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        F.window("ts", "1 day").start.alias("day"), "user_id"
    ).distinct()
    contrib = du.select(
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
        "user_id",
    )
    wau = contrib.groupBy("day").agg(
        F.count_distinct("user_id").cast("bigint").alias("wau")
    )
    dau = du.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau") * 1.0 / F.col("wau"), 6).alias("stickiness"),
    )


# --- pairwise correlation matrix: exact sufficient statistics -------------
_CORR_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(_CORR_MEASURES)
    for b in _CORR_MEASURES[i + 1 :]
]


def _corr_oracle() -> str:
    """Build the DuckDB twin programmatically so the sufficient-stat casts
    and the closed-form corr expression are character-identical to the
    Spark side's semantics (decimal partials, double division, half-up
    round at 9)."""
    dec = "DECIMAL(18,6)"
    # products use width 19: DuckDB executes width-18 multiplications in
    # int64 (price² at scale 12 overflows it); 19+19 → DECIMAL(38,12) on
    # hugeint. Exact either way, so it still matches Spark's decimal(37,12).
    pdec = "DECIMAL(19,6)"
    stats = ["CAST(count(*) AS BIGINT) AS n"]
    for m in _CORR_MEASURES:
        stats.append(f"sum(CAST({m} AS {dec})) AS s_{m}")
        stats.append(f"sum(CAST({m} AS {pdec}) * CAST({m} AS {pdec})) AS ss_{m}")
    for a, b in _CORR_PAIRS:
        stats.append(f"sum(CAST({a} AS {pdec}) * CAST({b} AS {pdec})) AS sp_{a}_{b}")
    arms = []
    for a, b in _CORR_PAIRS:
        num = (
            f"(n * CAST(sp_{a}_{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        )
        den = (
            f"sqrt((n * CAST(ss_{a} AS DOUBLE) - CAST(s_{a} AS DOUBLE)"
            f" * CAST(s_{a} AS DOUBLE)) * (n * CAST(ss_{b} AS DOUBLE)"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
        )
        arms.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, n, "
            f"{sql_round_half_up(f'{num} / {den}', 9)} AS corr FROM s"
        )
    return (
        "WITH s AS (SELECT " + ", ".join(stats) + " FROM lineitem)\n"
        + "\nUNION ALL ".join(arms)
    )


@query("profile_corr_matrix", oracle=_corr_oracle())
def profile_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation of all lineitem measures in ONE pass:
    a single aggregate computes every sufficient statistic (n, Σx, Σx²,
    Σxy for each of the 6 column pairs) in exact decimal — order-
    independent partials, so the closed-form corr division sees
    bit-identical operands on any engine and any partitioning — then the
    one-row result explodes into the (col_a, col_b) long form. Built-in
    corr() would re-scan per pair and its float partials are
    merge-order-dependent; this shape is one table scan, one reduce of
    ~15 numbers, zero shuffle of data rows. At 100 TB the cost is the
    scan; the reduce state stays a few hundred bytes regardless of
    row count (lineitem measures are NOT NULL per TPC-H, so one shared
    n serves every pair)."""
    dec = "decimal(18,6)"
    # Round 15 (guide §2.5): the partial-agg stage is a per-row DECIMAL
    # storm (every d*d lands in decimal(37,12) — BigDecimal, not the
    # long-backed fast path) and a one-row-group input runs it as ONE
    # task; spread_scan parallelizes it only when the file layout is
    # that shape (measured 2.11 s -> see OPTIMIZATION_r15.md), and is a
    # no-op at scale where the scan splits by itself.
    # Keyed on ALL FOUR measure columns (VERDICT r15 item 2 / ADVICE):
    # l_quantity alone has ~50 distinct values in TPC-H, capping the
    # spread at <=50 skewed hash buckets on a wide cluster; the
    # composite key's cardinality is effectively the row count.
    li = spread_scan(
        _t(spark, sf_dir, "lineitem").select(*_CORR_MEASURES),
        sf_dir, "lineitem", *_CORR_MEASURES,
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for m in _CORR_MEASURES:
        d = F.col(m).cast(dec)
        aggs.append(F.sum(d).alias(f"s_{m}"))
        aggs.append(F.sum(d * d).alias(f"ss_{m}"))
    for a, b in _CORR_PAIRS:
        aggs.append(
            F.sum(F.col(a).cast(dec) * F.col(b).cast(dec)).alias(f"sp_{a}_{b}")
        )
    row = li.agg(*aggs)
    structs = []
    for a, b in _CORR_PAIRS:
        n = F.col("n")
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        ssa, ssb = F.col(f"ss_{a}").cast("double"), F.col(f"ss_{b}").cast("double")
        sp = F.col(f"sp_{a}_{b}").cast("double")
        corr = (n * sp - sa * sb) / F.sqrt(
            (n * ssa - sa * sa) * (n * ssb - sb * sb)
        )
        structs.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                n.alias("n"),
                round_half_up(corr, 9).alias("corr"),
            )
        )
    return row.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


# --- Spearman rank correlation over small-domain measures -----------------
_SPEAR_COLS = ("l_quantity", "l_discount", "l_tax")
_SPEAR_PAIRS = [
    (a, b) for i, a in enumerate(_SPEAR_COLS) for b in _SPEAR_COLS[i + 1 :]
]


def _spearman_oracle() -> str:
    rk_ctes = []
    for m in _SPEAR_COLS:
        rk_ctes.append(
            f"""rk_{m} AS (
      SELECT {m} AS v,
             CAST(coalesce(sum(c) OVER (ORDER BY {m}
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + (c + 1) / 2 AS DECIMAL(19,1)) AS r
      FROM (SELECT {m}, CAST(count(*) AS BIGINT) AS c
            FROM lineitem GROUP BY {m})
    )"""
        )
    stats = ["CAST(count(*) AS BIGINT) AS n"]
    for m in _SPEAR_COLS:
        stats.append(f"sum(rk_{m}.r) AS s_{m}")
        stats.append(f"sum(rk_{m}.r * rk_{m}.r) AS ss_{m}")
    for a, b in _SPEAR_PAIRS:
        stats.append(f"sum(rk_{a}.r * rk_{b}.r) AS sp_{a}_{b}")
    joins = " ".join(f"JOIN rk_{m} ON l.{m} = rk_{m}.v" for m in _SPEAR_COLS)
    arms = []
    for a, b in _SPEAR_PAIRS:
        num = (
            f"(n * CAST(sp_{a}_{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        )
        den = (
            f"sqrt((n * CAST(ss_{a} AS DOUBLE) - CAST(s_{a} AS DOUBLE)"
            f" * CAST(s_{a} AS DOUBLE)) * (n * CAST(ss_{b} AS DOUBLE)"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
        )
        arms.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, n, "
            f"{sql_round_half_up(f'{num} / {den}', 9)} AS rho FROM s"
        )
    return (
        "WITH " + ",\n    ".join(rk_ctes)
        + ",\n    s AS (SELECT " + ", ".join(stats)
        + f" FROM lineitem l {joins})\n"
        + "\nUNION ALL ".join(arms)
    )


@query("profile_spearman_corr", oracle=_spearman_oracle())
def profile_spearman_corr(spark, sf_dir):
    """Spearman rank correlation for every pair of the SMALL-DOMAIN
    lineitem measures (quantity/discount/tax — each ≤ ~51 distinct
    values): monotonic-association profiling that Pearson
    (profile_corr_matrix) misses. The rank transform is the scalable
    part: average ranks come from a per-column GROUP BY + prefix sum over
    the DISTINCT-value table (≤51 rows — the only ordered window runs on
    that broadcast-sized table, never the fact rows), joined back as
    broadcast lookups. Ranks are exact halves in DECIMAL(19,1) (ties →
    average rank), so the Pearson-over-ranks sufficient statistics reuse
    the corr-matrix exactness contract: one fact scan, one ~20-number
    reduce, broadcast-only joins. Large-domain columns would swap the
    broadcast rank table for the distributed prefix-sum used by
    sample_token_budget — same algebra."""
    li = _t(spark, sf_dir, "lineitem")
    rks = {}
    for m in _SPEAR_COLS:
        cnts = li.groupBy(m).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        w = Window.orderBy(m).rowsBetween(Window.unboundedPreceding, -1)
        rks[m] = cnts.select(
            F.col(m).alias(f"v_{m}"),
            (
                F.coalesce(F.sum("c").over(w), F.lit(0))
                + (F.col("c") + 1) / 2
            )
            .cast("decimal(19,1)")
            .alias(f"r_{m}"),
        )
    # Round 16 (guide §2.5, VERDICT r15 item 3): the fact side's
    # broadcast joins + DECIMAL(19,1) rank-product partial agg pipeline
    # inside the scan and a one-row-group input runs them as ONE task
    # (profile_split: execute 1.14 s — the corr_matrix decimal-storm
    # shape); spread_scan parallelizes only such inputs (no-op at
    # scale). Composite 3-column key: ~5k distinct combinations, far
    # above any partition count the small-input guard can fire at.
    j = spread_scan(
        li.select(*_SPEAR_COLS), sf_dir, "lineitem", *_SPEAR_COLS
    )
    for m in _SPEAR_COLS:
        j = j.join(F.broadcast(rks[m]), F.col(m) == rks[m][f"v_{m}"])
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for m in _SPEAR_COLS:
        r = F.col(f"r_{m}")
        aggs.append(F.sum(r).alias(f"s_{m}"))
        aggs.append(F.sum(r * r).alias(f"ss_{m}"))
    for a, b in _SPEAR_PAIRS:
        aggs.append(F.sum(F.col(f"r_{a}") * F.col(f"r_{b}")).alias(f"sp_{a}_{b}"))
    row = j.agg(*aggs)
    structs = []
    for a, b in _SPEAR_PAIRS:
        n = F.col("n")
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        ssa, ssb = F.col(f"ss_{a}").cast("double"), F.col(f"ss_{b}").cast("double")
        sp = F.col(f"sp_{a}_{b}").cast("double")
        rho = (n * sp - sa * sb) / F.sqrt(
            (n * ssa - sa * sa) * (n * ssb - sb * sb)
        )
        structs.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                n.alias("n"),
                round_half_up(rho, 9).alias("rho"),
            )
        )
    return row.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


@query(
    "scd2_point_in_time",
    oracle="""
    WITH dim AS (
      SELECT user_id, value AS dim_value,
             ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM events WHERE event_type = 'purchase'
    )
    SELECT e.event_id, e.user_id, e.ts,
           d.dim_value, d.valid_from AS version_from
    FROM events e
    LEFT JOIN dim d
      ON e.user_id = d.user_id
     AND d.valid_from <= e.ts
     AND (d.valid_to > e.ts OR d.valid_to IS NULL)
    WHERE e.event_type = 'click'
    """,
)
def scd2_point_in_time(spark, sf_dir):
    """Point-in-time enrichment against an SCD2 dimension — the warehouse
    join shape behind "what did this dimension look like WHEN the fact
    happened": every click event picks the purchase-dimension version
    whose [valid_from, valid_to) interval covers its timestamp. SCD2
    versions never overlap, so the range join the oracle writes is
    executed as a backward AS-OF join (operators/asof.py union-and-
    carry-forward): ONE shuffle keyed on the business key and a linear
    window pass — no non-equi nested loop, no interval explosion, which
    is what makes the shape survive a 100 TB fact table (the naive range
    join degenerates to a broadcast nested loop there). Left-outer: facts
    before the first version keep NULL dimension values."""
    from delfos_etl_pipeline_spark.operators.asof import asof_join
    from delfos_etl_pipeline_spark.operators.cdc import scd2_from_changes

    ev = _t(spark, sf_dir, "events")
    dim = scd2_from_changes(
        ev.filter(F.col("event_type") == "purchase"),
        "user_id",
        "ts",
        ("ts", "event_id"),
        ("value",),
    ).select(
        "user_id",
        F.col("value").alias("dim_value"),
        F.col("valid_from").alias("_dim_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        clicks,
        dim.withColumnRenamed("_dim_ts", "ts").withColumn(
            "version_from", F.col("ts")
        ),
        on="ts",
        by=["user_id"],
        value_cols=["dim_value", "version_from"],
        suffix="",
    )
    return joined.select(
        "event_id", "user_id", "ts", "dim_value", "version_from"
    )


@query(
    "orders_open_concurrency",
    oracle="""
    WITH iv AS (
      SELECT o.o_orderkey, o.o_orderdate AS opened,
             max(l.l_shipdate) AS closed
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ), deltas AS (
      SELECT opened AS d, CAST(count(*) AS BIGINT) AS delta
      FROM iv GROUP BY 1
      UNION ALL
      SELECT closed AS d, -CAST(count(*) AS BIGINT) AS delta
      FROM iv WHERE closed > opened GROUP BY 1
      UNION ALL
      SELECT opened AS d, -CAST(count(*) AS BIGINT) AS delta
      FROM iv WHERE closed <= opened GROUP BY 1
    ), merged AS (
      SELECT d, CAST(sum(delta) AS BIGINT) AS delta FROM deltas GROUP BY d
    )
    SELECT d, delta,
           CAST(sum(delta) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS n_open
    FROM merged
    """,
)
def orders_open_concurrency(spark, sf_dir):
    """Sweep-line interval concurrency — "how many orders are OPEN on
    each date" over the [o_orderdate, last l_shipdate) lifetime of every
    order: the classic +1/-1 boundary-event cumsum (concurrent sessions,
    active users, in-flight shipments all share this shape). The
    scalable trick is the ORDER of operations: deltas are AGGREGATED PER
    DATE first (map-side combinable group-bys — fact rows are touched
    once and never exploded), so the one running-sum window orders only
    |distinct dates| rows (a ~2.5k-row calendar) — broadcast-sized,
    where a single-partition window is free — while the naive
    per-interval sweep would globally sort 2·|orders| boundary events.
    Degenerate same-day intervals cancel at their open date so the
    running count never goes negative. Half-open [opened, closed)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    iv = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("closed"))
        .select(F.col("o_orderdate").alias("opened"), "closed")
    )
    plus = iv.groupBy(F.col("opened").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("delta")
    )
    minus = (
        iv.where(F.col("closed") > F.col("opened"))
        .groupBy(F.col("closed").alias("d"))
        .agg((-F.count(F.lit(1))).cast("bigint").alias("delta"))
    )
    degen = (
        iv.where(F.col("closed") <= F.col("opened"))
        .groupBy(F.col("opened").alias("d"))
        .agg((-F.count(F.lit(1))).cast("bigint").alias("delta"))
    )
    merged = (
        plus.unionByName(minus)
        .unionByName(degen)
        .groupBy("d")
        .agg(F.sum("delta").cast("bigint").alias("delta"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return merged.select(
        "d", "delta", F.sum("delta").over(w).cast("bigint").alias("n_open")
    )


@query(
    "basket_association_rules",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS part FROM lineitem
    ),
    nn AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM items),
    isup AS (
      SELECT part, CAST(count(*) AS BIGINT) AS sup FROM items GROUP BY part
    ),
    psup AS (
      SELECT a.part AS x, b.part AS y, CAST(count(*) AS BIGINT) AS supp
      FROM items a JOIN items b ON a.ok = b.ok AND a.part < b.part
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    rules AS (
      SELECT x AS antecedent, y AS consequent, supp FROM psup
      UNION ALL
      SELECT y, x, supp FROM psup
    )
    SELECT r.antecedent, r.consequent, r.supp,
           floor((r.supp * 1.0 / sx.sup) * 1000000.0 + 0.5) / 1000000.0
             AS confidence,
           floor((r.supp * 1.0 * n / (sx.sup * sy.sup)) * 1000000.0 + 0.5)
             / 1000000.0 AS lift
    FROM rules r
    JOIN isup sx ON r.antecedent = sx.part
    JOIN isup sy ON r.consequent = sy.part, nn
    """,
)
def basket_association_rules(spark, sf_dir):
    """Market-basket association rules (support / confidence / lift) over
    parts co-purchased in one order — the co-occurrence mining shape
    behind recommendations and query expansion. Scale discipline: the
    pair self-join is keyed on the ORDER (never a global part×part
    cross), so its output is bounded by Σ C(items_per_order, 2) — baskets
    are small (≤13 here), making the explosion linear-ish in orders at
    any corpus size; item supports are a broadcast-sized side (|parts|
    rows), and the basket count joins in as a 1-row broadcast literal,
    not a driver collect. All three metrics are exact integer ratios
    rounded half-up at 6, so the DuckDB twin matches bitwise. min
    support 2 drops the singleton-pair noise tier."""
    li = _t(spark, sf_dir, "lineitem")
    # one exchange on the basket key serves dedup AND the self-join
    # (round 15, guide §2.4 — the recsys_item_cosine rationale)
    items = (
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part")
        )
        .repartition("ok")
        .distinct()
    )
    nn = items.agg(
        F.count_distinct("ok").cast("bigint").alias("n")
    )
    isup = items.groupBy("part").agg(
        F.count(F.lit(1)).cast("bigint").alias("sup")
    )
    a = items.select("ok", F.col("part").alias("x"))
    b = items.select("ok", F.col("part").alias("y"))
    psup = (
        a.join(b, ["ok"])
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("supp"))
        .where(F.col("supp") >= 2)
    )
    rules = psup.select(
        F.col("x").alias("antecedent"), F.col("y").alias("consequent"), "supp"
    ).unionByName(
        psup.select(
            F.col("y").alias("antecedent"), F.col("x").alias("consequent"), "supp"
        )
    )
    sx = isup.select(F.col("part").alias("antecedent"), F.col("sup").alias("sx"))
    sy = isup.select(F.col("part").alias("consequent"), F.col("sup").alias("sy"))
    out = (
        rules.join(F.broadcast(sx), "antecedent")
        .join(F.broadcast(sy), "consequent")
        .crossJoin(F.broadcast(nn))
    )
    conf = F.floor((F.col("supp") * 1.0 / F.col("sx")) * 1000000.0 + 0.5) / 1000000.0
    lift = (
        F.floor(
            (F.col("supp") * 1.0 * F.col("n") / (F.col("sx") * F.col("sy")))
            * 1000000.0
            + 0.5
        )
        / 1000000.0
    )
    return out.select(
        "antecedent",
        "consequent",
        "supp",
        conf.alias("confidence"),
        lift.alias("lift"),
    )


@query(
    "a_distinct_weekly",
    oracle="""
    SELECT date_trunc('week', ts) AS week,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def a_distinct_weekly(spark, sf_dir):
    """Exact weekly distinct users — the exact twin anchoring
    a_distinct_rollup_hll's error-bound certification (the same pairing
    discipline as a_percentiles / a_percentiles_approx). One day-keyed
    exchange; correct but NOT re-aggregable upward (weeks can't merge
    into months without re-scanning raw events) — which is exactly what
    the sketch rollup fixes."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("week", "ts").alias("week")).agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users")
    )


@query("a_distinct_rollup_hll")
def a_distinct_rollup_hll(spark, sf_dir):
    """Weekly distinct users from UNIONED DAILY HLL sketches
    (operators/sketches.py, Spark 4's DataSketches primitives): build one
    ~KB sketch per day map-side, merge per week — the second aggregation
    level moves kilobytes per group at ANY corpus size, making wide-
    window distinct metrics (MAU/QAU) cheap where exact counts must
    re-scan raw data. Rows-only registration (DataSketches internals
    aren't SQL-reproducible); tests/test_sketches.py certifies every
    weekly estimate within the published HLL bound of the exact twin
    a_distinct_weekly, and that merged sketches equal the flat sketch.
    Twin's newest exact driver row: r4 (a_distinct_weekly, certified
    after the r3 oracle hardening)."""
    from delfos_etl_pipeline_spark.operators.sketches import sketch_rollup

    ev = _t(spark, sf_dir, "events")
    out = sketch_rollup(
        ev, "user_id", F.date_trunc("day", "ts"), F.date_trunc("week", "ts")
    )
    return out.select(
        F.col("_coarse").alias("week"), "n_fine_buckets", "approx_distinct"
    )


@query(
    "anomaly_seasonal_zscore",
    oracle=f"""
    WITH s AS (
      SELECT event_id, event_type, ts, value,
             extract(hour FROM ts) AS hod,
             count(value) OVER (PARTITION BY event_type, extract(hour FROM ts))
               AS n_,
             CAST(sum(CAST(value AS DECIMAL(18,6)))
                    OVER (PARTITION BY event_type, extract(hour FROM ts))
                  AS DOUBLE) AS s_,
             CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
                    OVER (PARTITION BY event_type, extract(hour FROM ts))
                  AS DOUBLE) AS ss_
      FROM events
    ), z AS (
      SELECT event_id, event_type, hod, value,
             (value - s_ / n_)
               / sqrt(greatest((ss_ - s_ * s_ / n_) / (n_ - 1), 0.0)) AS z_
      FROM s WHERE n_ > 1
    )
    SELECT event_id, event_type, CAST(hod AS BIGINT) AS hod, value,
           {sql_round_half_up("z_", 4)} AS zscore
    FROM z WHERE abs(z_) > 3.0
    """,
)
def anomaly_seasonal_zscore(spark, sf_dir):
    """SEASONALLY-adjusted outlier flags: each event is z-scored against
    its own (event_type, hour-of-day) slice instead of the type's global
    distribution — a nightly batch job legitimately differs from the 2pm
    peak, and deseasonalizing against the diurnal profile is what stops
    the global z-score (anomaly_zscore) from flagging normal off-peak
    behavior / missing daytime anomalies. Same single-exchange shape:
    one whole-partition window computes the exact-decimal (n, Σv, Σv²)
    per 24×|types| slice — at 100 TB the seasonal model is three
    scalars per slice carried inside the window, no rejoin."""
    ev = _t(spark, sf_dir, "events")
    hod = F.hour("ts")
    w = Window.partitionBy("event_type", hod)
    dec = F.col("value").cast("decimal(18,6)")
    s = F.sum(dec).over(w).cast("double")
    n = F.count("value").over(w)
    ss = F.sum(dec * dec).over(w).cast("double")
    zed = (F.col("value") - s / n) / F.sqrt(
        F.greatest((ss - s * s / n) / (n - 1), F.lit(0.0))
    )
    return (
        ev.select(
            "event_id",
            "event_type",
            hod.cast("bigint").alias("hod"),
            "value",
            zed.alias("z_"),
            n.alias("n_"),
        )
        .filter((F.col("n_") > 1) & (F.abs(F.col("z_")) > 3.0))
        .select(
            "event_id", "event_type", "hod", "value",
            round_half_up(F.col("z_"), 4).alias("zscore"),
        )
    )


@query(
    "chi2_independence",
    oracle="""
    WITH obs AS (
      SELECT o_orderpriority AS r, o_orderstatus AS c,
             CAST(count(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
    rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM obs GROUP BY r),
    ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY c),
    cells AS (
      SELECT CAST(floor(((o - rt * 1.0 * ct / n)
                         * (o - rt * 1.0 * ct / n)
                         / (rt * 1.0 * ct / n))
                        * 1000000000.0 + 0.5) / 1000000000.0
                  AS DECIMAL(18,9)) AS term
      FROM obs JOIN rt USING (r) JOIN ct USING (c), tot
    )
    SELECT (SELECT n FROM tot) AS n,
           CAST((SELECT count(*) FROM rt) - 1 AS BIGINT)
             * CAST((SELECT count(*) FROM ct) - 1 AS BIGINT) AS dof,
           floor(CAST(sum(term) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
             AS chi2
    FROM cells
    """,
)
def chi2_independence(spark, sf_dir):
    """Chi-squared test of independence over the order-priority ×
    order-status contingency table — the categorical counterpart of the
    correlation profilers (is priority assignment independent of order
    status?). One group-by builds the contingency cells; marginals and
    the grand total re-aggregate those |R|·|C| cells (broadcast-sized —
    the fact table is scanned exactly ONCE at any scale). Each cell's
    (O-E)²/E lands in DECIMAL(18,9) before the order-free exact sum, so
    the statistic matches the oracle bitwise; dof = (R-1)(C-1) ships
    alongside for the caller's p-value lookup."""
    o = _t(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.col("o_orderpriority").alias("r"), F.col("o_orderstatus").alias("c")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    tot = obs.agg(F.sum("o").cast("bigint").alias("n"))
    rt = obs.groupBy("r").agg(F.sum("o").cast("bigint").alias("rt"))
    ct = obs.groupBy("c").agg(F.sum("o").cast("bigint").alias("ct"))
    e = F.col("rt") * 1.0 * F.col("ct") / F.col("n")
    term = (
        F.floor(((F.col("o") - e) * (F.col("o") - e) / e) * 1000000000.0 + 0.5)
        / 1000000000.0
    ).cast("decimal(18,9)")
    cells = (
        obs.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .crossJoin(F.broadcast(tot))
        .select("n", "rt", "ct", term.alias("term"))
    )
    nr = rt.count()
    nc = ct.count()
    return cells.groupBy("n").agg(
        F.lit((nr - 1) * (nc - 1)).cast("bigint").alias("dof"),
        (
            F.floor(F.sum("term").cast("double") * 1000000.0 + 0.5) / 1000000.0
        ).alias("chi2"),
    )


@query(
    "mutual_information",
    oracle="""
    WITH obs AS (
      SELECT event_type AS r, hour(ts) AS c,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
    rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM obs GROUP BY r),
    ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY c),
    cells AS (
      SELECT CAST(floor(((o * 1.0 / n)
                         * ln((o * 1.0 * n) / (rt * 1.0 * ct)))
                        * 1000000000000.0 + 0.5) / 1000000000000.0
                  AS DECIMAL(18,12)) AS term,
             n
      FROM obs JOIN rt USING (r) JOIN ct USING (c), tot
    )
    SELECT n,
           floor(CAST(sum(term) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
             AS mi_nats
    FROM cells GROUP BY n
    """,
)
def mutual_information(spark, sf_dir):
    """Mutual information I(event_type; hour-of-day) in nats — the
    information-theoretic dependence measure feature selection and drift
    monitoring use where chi² gives only a significance test (MI is 0
    iff independent and scales with HOW MUCH knowing the hour tells you
    about the type). Identical shape to chi2_independence: ONE fact-table
    scan builds the contingency cells; marginals and the grand total
    re-aggregate the |R|·|C| broadcast-sized cell table. Each cell's
    (o/n)·ln(o·n/(rt·ct)) is one IEEE expression over exact BIGINT
    counts (products kept in double so web-scale n² can't overflow
    int64), rounded half-up into DECIMAL(18,12) before the order-free
    exact sum — bitwise match with the oracle."""
    ev = _t(spark, sf_dir, "events")
    obs = ev.groupBy(
        F.col("event_type").alias("r"), F.hour("ts").alias("c")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    tot = obs.agg(F.sum("o").cast("bigint").alias("n"))
    rt = obs.groupBy("r").agg(F.sum("o").cast("bigint").alias("rt"))
    ct = obs.groupBy("c").agg(F.sum("o").cast("bigint").alias("ct"))
    term = (
        F.floor(
            (
                (F.col("o") * 1.0 / F.col("n"))
                * F.log(
                    (F.col("o") * 1.0 * F.col("n"))
                    / (F.col("rt") * 1.0 * F.col("ct"))
                )
            )
            * 1000000000000.0
            + 0.5
        )
        / 1000000000000.0
    ).cast("decimal(18,12)")
    cells = (
        obs.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .crossJoin(F.broadcast(tot))
        .select("n", term.alias("term"))
    )
    return cells.groupBy("n").agg(
        (
            F.floor(F.sum("term").cast("double") * 1000000.0 + 0.5) / 1000000.0
        ).alias("mi_nats")
    )


@query(
    "weighted_percentiles",
    oracle=r"""
    WITH g AS (
      SELECT n_chars AS v,
             CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS w
      FROM documents GROUP BY n_chars
    ),
    c AS (
      SELECT v, w,
             CAST(sum(w) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cw,
             CAST(sum(w) OVER () AS BIGINT) AS tw
      FROM g
    )
    SELECT p.q,
           (SELECT min(v) FROM c
            WHERE cw * 100 >= CAST(p.q * tw_all AS BIGINT)) AS value
    FROM (SELECT CAST(unnest([25, 50, 75, 90, 99]) AS BIGINT) AS q) p,
         (SELECT max(tw) AS tw_all FROM c)
    """,
)
def weighted_percentiles(spark, sf_dir):
    """WEIGHTED nearest-rank percentiles — document length quantiles
    where each document counts proportionally to its token mass, the
    right statistic when downstream cost is token-driven (an unweighted
    median over-represents short docs). Same scalable discipline as the
    rank/sweep-line family: weights aggregate per DISTINCT value first
    (map-side combinable, one fact scan), the cumulative-weight window
    runs over that broadcast-sized value table only, and the quantile
    pick is min{v : cumweight ≥ q·total} in EXACT integer arithmetic
    (cw·100 ≥ q·total — no float rank, nothing to round), so the oracle
    matches bitwise."""
    docs = _t(spark, sf_dir, "documents")
    g = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum(F.size(F.split(F.col("text"), r"\s+"))).cast("bigint").alias("w")
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = g.select(
        "v",
        F.sum("w").over(wc).cast("bigint").alias("cw"),
        F.sum("w").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("tw"),
    )
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in (25, 50, 75, 90, 99)])).alias("q")
    ).select(F.col("q").cast("bigint").alias("q"))
    hit = c.crossJoin(F.broadcast(qs)).where(
        F.col("cw") * 100 >= F.col("q") * F.col("tw")
    )
    return hit.groupBy("q").agg(F.min("v").alias("value"))


@query(
    "order_lifecycle_snapshot",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus, o.o_orderdate,
           min(l.l_shipdate) AS first_ship,
           max(l.l_shipdate) AS last_ship,
           CAST(date_diff('day', o.o_orderdate, min(l.l_shipdate))
             AS BIGINT) AS days_to_first_ship,
           CAST(date_diff('day', o.o_orderdate, max(l.l_shipdate))
             AS BIGINT) AS days_to_complete,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_orderstatus, o.o_orderdate
    """,
)
def order_lifecycle_snapshot(spark, sf_dir):
    """Accumulating-snapshot fact table — the Kimball pattern that
    pivots a process's milestones onto ONE row per entity (order placed
    → first shipment → final shipment) with lag durations, the shape
    behind cycle-time dashboards. One fact-keyed join + one group-by:
    both exchanges hash on the order key, milestones are plain min/max
    aggregates (map-side combinable), and durations are exact integer
    day diffs — nothing to round. At 100 TB this materializes
    incrementally via the cdc_merge_upsert path keyed on o_orderkey
    (late milestones UPDATE their row), which is why the snapshot grain
    is exactly one row per order."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderstatus", "o_orderdate")
        .agg(
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
            F.datediff(F.min("l_shipdate"), F.col("o_orderdate"))
            .cast("bigint")
            .alias("days_to_first_ship"),
            F.datediff(F.max("l_shipdate"), F.col("o_orderdate"))
            .cast("bigint")
            .alias("days_to_complete"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


@query(
    "ks_two_sample",
    oracle=f"""
    WITH ev AS (
      SELECT value, event_type FROM events
      WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ), tot AS (
      SELECT count(*) FILTER (WHERE event_type = 'click')    AS na,
             count(*) FILTER (WHERE event_type = 'purchase') AS nb
      FROM ev
    ), byv AS (
      SELECT value,
             count(*) FILTER (WHERE event_type = 'click')    AS ca,
             count(*) FILTER (WHERE event_type = 'purchase') AS cb
      FROM ev GROUP BY value
    ), cum AS (
      SELECT value,
             sum(ca) OVER (ORDER BY value) AS cca,
             sum(cb) OVER (ORDER BY value) AS ccb
      FROM byv
    ), d AS (
      SELECT value,
             {sql_round_half_up(
                 "abs(cca * 1.0 / (SELECT na FROM tot)"
                 " - ccb * 1.0 / (SELECT nb FROM tot))", 6)} AS dd
      FROM cum
    )
    SELECT max(dd) AS ks_stat,
           min(CASE WHEN dd = (SELECT max(dd) FROM d) THEN value END)
             AS at_value,
           (SELECT na FROM tot) AS n_a,
           (SELECT nb FROM tot) AS n_b
    FROM d
    """,
)
def ks_two_sample(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic between the `value`
    distributions of click vs purchase events — the distribution-level
    complement to ab_test_zstat's mean test (detects shape/scale drift a
    mean test misses; the standard gate in data-drift monitors).

    D = max over observed values of |ECDF_a - ECDF_b|, with the argmax
    value reported (smallest value attaining D, deterministic under
    ties). Both cumulative counts over the distinct values come from one
    ``operators/prefix.py::prefix_scan``."""
    from delfos_etl_pipeline_spark.operators.prefix import prefix_scan

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .where(F.col("value").isNotNull())
    )
    byv = ev.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("ca"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("cb"),
    )
    cum = prefix_scan(byv, ["value"], {"cca": "ca", "ccb": "cb"})
    tot = ev.agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("na"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("nb"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "value",
        "na",
        "nb",
        round_half_up(
            F.abs(
                F.col("cca") / F.col("na") - F.col("ccb") / F.col("nb")
            ),
            6,
        ).alias("dd"),
    )
    return d.agg(
        F.max(F.struct(F.col("dd"), (-F.col("value")).alias("nv"))).alias("_m"),
        F.min("na").alias("n_a"),
        F.min("nb").alias("n_b"),
    ).select(
        F.col("_m.dd").alias("ks_stat"),
        (-F.col("_m.nv")).alias("at_value"),
        "n_a",
        "n_b",
    )


@query(
    "cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             floor((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS m
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), st AS (
      SELECT event_type,
             count(*) AS nd,
             CAST(sum(CAST(m AS DECIMAL(18,6))) AS DOUBLE) AS sm,
             CAST(sum(CAST(floor(m * m * 1000000000000.0 + 0.5)
                           / 1000000000000.0 AS DECIMAL(30,12))) AS DOUBLE)
               AS sm2
      FROM daily GROUP BY event_type
    ), p AS (
      SELECT event_type, nd, sm / nd AS mu,
             sqrt(greatest(sm2 / nd - (sm / nd) * (sm / nd), 0)) AS sigma
      FROM st
    ), c AS (
      SELECT d.event_type, d.day, d.m, p.sigma,
             CAST(sum(CAST(floor((d.m - p.mu) * 1000000000000.0 + 0.5)
                           / 1000000000000.0 AS DECIMAL(24,12)))
                  OVER (PARTITION BY d.event_type ORDER BY d.day)
                  AS DOUBLE) AS cs
      FROM daily d JOIN p USING (event_type)
    )
    SELECT event_type, day,
           m AS daily_mean,
           floor(cs * 1000000.0 + 0.5) / 1000000.0 AS cusum,
           abs(cs) > 3 * sigma AS is_change
    FROM c
    """,
)
def cusum_changepoint(spark, sf_dir):
    """CUSUM change-point detection over daily means per event type —
    the classic drift detector (Page 1954): cumulative sum of deviations
    from the series mean crosses ±3 sigma when the level shifts, catching
    slow drifts that per-point z-scores (anomaly_zscore) miss entirely.

    Scale shape: ONE raw-data pass (the daily groupBy, map-side
    combined, persisted — it feeds both the per-type stats and the
    output rows); everything else operates on |types|×|days| rows. The
    cumulative window orders DAYS within a type — calendar-bounded, the
    hypertable pattern, never a fact-row window. Deviations round
    half-up to 12 dp into DECIMAL before the running sum, so the
    cumulative values are exact at any partitioning; mu/sigma come from
    decimal sufficient statistics (the corr-matrix contract)."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            round_half_up(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("m")
        )
        .persist()
    )
    st = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum(F.col("m").cast("decimal(18,6)")).cast("double").alias("sm"),
        F.sum(
            round_half_up(F.col("m") * F.col("m"), 12).cast("decimal(30,12)")
        )
        .cast("double")
        .alias("sm2"),
    )
    p = st.select(
        "event_type",
        (F.col("sm") / F.col("nd")).alias("mu"),
        F.sqrt(
            F.greatest(
                F.col("sm2") / F.col("nd")
                - (F.col("sm") / F.col("nd")) * (F.col("sm") / F.col("nd")),
                F.lit(0.0),
            )
        ).alias("sigma"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    cs = (
        F.sum(
            round_half_up(F.col("m") - F.col("mu"), 12).cast("decimal(24,12)")
        )
        .over(w)
        .cast("double")
    )
    return (
        daily.join(F.broadcast(p), "event_type")
        .select(
            "event_type",
            "day",
            F.col("m").alias("daily_mean"),
            round_half_up(cs, 6).alias("cusum"),
            (F.abs(cs) > 3 * F.col("sigma")).alias("is_change"),
        )
    )


@query(
    "heavy_hitters",
    oracle="""
    WITH tot AS (SELECT count(*) AS n FROM events),
    g AS (
      SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
             count(*) AS cnt
      FROM events GROUP BY event_type, dayofweek(ts)
    )
    SELECT g.event_type, g.dow, g.cnt,
           floor(g.cnt * 1.0 / tot.n * 1000000.0 + 0.5) / 1000000.0
             AS support
    FROM g, tot
    WHERE g.cnt * 1.0 / tot.n > 0.02
    """,
)
def heavy_hitters(spark, sf_dir):
    """Frequent-itemset mining, exact tier: (event_type, day-of-week)
    combinations whose support exceeds 2% of all events. Support is
    scale-invariant (a share, not a count), so the result is stable
    across SFs. Plan: one map-side-combinable groupBy over the composite
    key, the total as a 1-row broadcast, a share filter — no sort, no
    window. The approximate tier is df.stat.freqItems (Karp/
    Misra-Gries — constant memory, mergeable, superset guarantee),
    property-tested in tests/test_sketches.py against this exact
    output; at 100 TB the sketch runs when the distinct-combo space
    itself is too large to aggregate exactly."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type", F.dayofweek("ts").cast("bigint").alias("dow")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tot = ev.agg(F.count(F.lit(1)).alias("n"))
    return (
        g.crossJoin(F.broadcast(tot))
        .where(F.col("cnt") * 1.0 / F.col("n") > 0.02)
        .select(
            "event_type",
            "dow",
            "cnt",
            round_half_up(F.col("cnt") * 1.0 / F.col("n"), 6).alias("support"),
        )
    )


@query(
    "dq_benford_digits",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), o AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS observed FROM d GROUP BY digit
    ), t AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM o),
    e AS (
      SELECT o.digit, o.observed,
             t.n * (floor(log10(1 + 1.0 / o.digit) * 1000000000000.0 + 0.5)
                    / 1000000000000.0) AS expected
      FROM o, t
    )
    SELECT digit, observed,
           floor(expected * 1000000.0 + 0.5) / 1000000.0 AS expected,
           floor((observed - expected) * (observed - expected) / expected
                 * 1000000.0 + 0.5) / 1000000.0 AS chi2_term
    FROM e
    """,
)
def dq_benford_digits(spark, sf_dir):
    """Benford first-significant-digit test over order totals — the
    data-quality/fraud screen for 'naturally occurring' numeric columns
    (fabricated or truncated feeds flatten the leading-digit
    distribution; the per-digit chi-squared terms localize which digits
    drift). First digit via the decimal string form (identical
    formatting both engines for DECIMAL(18,2) >= 1); expected shares
    are the nine log10(1+1/d) constants evaluated ONCE in the driver
    and rounded to 12 dp (the pinned-libm contract from the LM model —
    never two engines' libm), shipped as a 9-row broadcast. One
    map-side-combinable digit groupBy plus a 1-row total broadcast —
    scan-bound at any scale."""
    import math

    ev = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    d = ev.select(
        F.substring(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    o = d.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("observed"))
    t = o.agg(F.sum("observed").cast("bigint").alias("n"))
    ratios = local_frame(
        spark,
        [
            (dd, math.floor(math.log10(1 + 1.0 / dd) * 1e12 + 0.5) / 1e12)
            for dd in range(1, 10)
        ],
        "digit bigint, r double",
    )
    e = (
        o.crossJoin(F.broadcast(t))
        .join(F.broadcast(ratios), "digit")
        .select(
            "digit",
            "observed",
            (F.col("n") * F.col("r")).alias("_exp"),
        )
    )
    return e.select(
        "digit",
        "observed",
        round_half_up(F.col("_exp"), 6).alias("expected"),
        round_half_up(
            (F.col("observed") - F.col("_exp"))
            * (F.col("observed") - F.col("_exp"))
            / F.col("_exp"),
            6,
        ).alias("chi2_term"),
    )


@query(
    "orders_rfm_segmentation",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS monetary
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT o_custkey, last_order, frequency, monetary,
             ntile(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary, o_custkey) AS m_score
      FROM cust
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           floor(avg(monetary) * 1000000.0 + 0.5) / 1000000.0
             AS avg_monetary
    FROM scored
    GROUP BY r_score, f_score, m_score
    """,
)
def orders_rfm_segmentation(spark, sf_dir):
    """RFM customer segmentation — the marketing-warehouse classic:
    quintile scores for Recency (last order date), Frequency (order
    count), Monetary (lifetime spend, summed in exact integer cents),
    aggregated into segment cells. ntile quintiles are deterministic
    under the (value, custkey) total order. Plan: one orders scan into a
    customer-grain aggregate, three rank windows over the CUSTOMER table
    (|customers| rows — far below fact cardinality; for a customer table
    too big for comfortable global windows the rank would swap to the
    two-phase prefix scan, same algebra), then a segment-grain rollup.
    The avg is per-cell mean of exact-cents sums — deterministic ratio
    of decimals, rounded half-up both engines."""
    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("double")
            / 100.0
        ).alias("monetary"),
    )
    wr = Window.orderBy("last_order", "o_custkey")
    wf = Window.orderBy("frequency", "o_custkey")
    wm = Window.orderBy("monetary", "o_custkey")
    scored = cust.select(
        "o_custkey",
        "monetary",
        F.ntile(5).over(wr).cast("bigint").alias("r_score"),
        F.ntile(5).over(wf).cast("bigint").alias("f_score"),
        F.ntile(5).over(wm).cast("bigint").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        round_half_up(F.avg("monetary"), 6).alias("avg_monetary"),
    )


@query(
    "cohort_ltv_curve",
    oracle="""
    WITH f AS (
      SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS cm
      FROM orders GROUP BY o_custkey
    ), rev AS (
      SELECT f.cm AS cohort_month,
             (year(o.o_orderdate) * 12 + month(o.o_orderdate))
               - (year(f.cm) * 12 + month(f.cm)) AS age_months,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents,
             CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS active_customers
      FROM orders o JOIN f USING (o_custkey)
      GROUP BY 1, 2
    )
    SELECT cohort_month, CAST(age_months AS BIGINT) AS age_months,
           active_customers,
           CAST(rev_cents AS DOUBLE) / 100.0 AS period_revenue,
           CAST(sum(rev_cents) OVER (PARTITION BY cohort_month
                                     ORDER BY age_months) AS DOUBLE) / 100.0
             AS cum_revenue
    FROM rev
    """,
)
def cohort_ltv_curve(spark, sf_dir):
    """Cohort lifetime-value curves: customers grouped by first-order
    month, revenue accumulated by cohort age — the complement to
    retention_cohorts (activity) on the revenue axis, the curve growth
    teams read LTV/CAC from. Exact integer-cents revenue; the cumulative
    window runs over (cohort x age) cells — calendar-squared
    cardinality, never fact rows; the first-order table joins back
    customer-keyed (broadcastable for dimension-sized customer sets,
    plain shuffle join beyond). Cohort age via portable integer
    year*12+month arithmetic, identical both engines."""
    o = _t(spark, sf_dir, "orders")
    f = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cm")
    )
    j = o.join(f, "o_custkey")
    age = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate")
        - (F.year("cm") * 12 + F.month("cm"))
    )
    rev = j.groupBy(
        F.col("cm").alias("cohort_month"), age.alias("age_months")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
        F.countDistinct("o_custkey").cast("bigint").alias("active_customers"),
    )
    w = Window.partitionBy("cohort_month").orderBy("age_months")
    return rev.select(
        "cohort_month",
        F.col("age_months").cast("bigint").alias("age_months"),
        "active_customers",
        (F.col("rev_cents").cast("double") / 100.0).alias("period_revenue"),
        (F.sum("rev_cents").over(w).cast("double") / 100.0).alias(
            "cum_revenue"
        ),
    )


@query(
    "attribution_last_touch",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
      FROM events
    )
    SELECT coalesce(channel, '(direct)') AS channel,
           CAST(count(*) AS BIGINT) AS conversions
    FROM e WHERE event_type = 'purchase'
    GROUP BY coalesce(channel, '(direct)')
    """,
)
def attribution_last_touch(spark, sf_dir):
    """Last-touch conversion attribution: each purchase credits the
    user's most recent preceding non-purchase event type ('(direct)'
    when none) — the marketing-analytics shape that is an as-of lookup
    INSIDE one stream, executed as a running last-non-null over the
    user timeline (one hash exchange on user_id, O(n) growing frame —
    no self-join, no per-conversion probe). The frame excludes the
    current row so back-to-back purchases attribute to the same earlier
    touch rather than each other."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channel = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select("event_type", channel.alias("channel"))
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("(direct)")).alias("channel"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("conversions"))
    )


@query(
    "markov_event_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), t AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS n
      FROM s WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ), r AS (
      SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_n FROM t
      GROUP BY prev_type
    )
    SELECT t.prev_type, t.next_type, t.n,
           floor(t.n * 1.0 / r.row_n * 1000000.0 + 0.5) / 1000000.0 AS p
    FROM t JOIN r USING (prev_type)
    """,
)
def markov_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix of user event journeys:
    P(next event type | current) from lagged pairs — the behavioral
    model behind next-action prediction and journey simulation
    (session_paths shows WHERE users go; this gives the normalized
    dynamics). One user-keyed lag window over the fact rows, then
    everything operates on the |types|² transition table; probabilities
    are deterministic integer ratios rounded half-up."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    t = s.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    r = t.groupBy("prev_type").agg(F.sum("n").cast("bigint").alias("row_n"))
    return (
        t.join(F.broadcast(r), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            round_half_up(F.col("n") * 1.0 / F.col("row_n"), 6).alias("p"),
        )
    )


@query(
    "ohlc_daily",
    oracle="""
    WITH o AS (
      SELECT event_type, CAST(ts AS DATE) AS day, value,
             row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY ts ASC, event_id ASC)  AS rn_open,
             row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM events
    )
    SELECT event_type, day,
           max(CASE WHEN rn_open  = 1 THEN value END) AS open,
           max(value)                                  AS high,
           min(value)                                  AS low,
           max(CASE WHEN rn_close = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT)                    AS n_trades,
           floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0        AS volume
    FROM o
    GROUP BY event_type, day
    """,
)
def ohlc_daily(spark, sf_dir):
    """OHLC candlestick resampling — the canonical time-series downsample
    (open/high/low/close per series per day, plus trade count and summed
    volume). Spark-first: ONE aggregation pass with ``min_by``/``max_by``
    over the deterministic (ts, event_id) ordering struct — no window, no
    second shuffle; the oracle states the same values via row_number CTEs
    because DuckDB's arg_min/arg_max cannot take a composite ordering
    key. Volume accumulates in DECIMAL per the repo's float contract.
    100 TB: group keys are (series, day) — naturally high-cardinality and
    unskewed, partial aggregation map-side; the ordering struct rides the
    same exchange, so cost is identical to the plain daily rollup A6."""
    ev = _t(spark, sf_dir, "events")
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    dec = F.col("value").cast("decimal(18,6)")
    return (
        ev.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            "value",
            ord_key.alias("_ord"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.min_by("value", F.col("_ord")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("_ord")).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_trades"),
            round_half_up(F.sum(dec).cast("double"), 6).alias("volume"),
        )
    )


@query(
    "survival_kaplan_meier",
    oracle="""
    WITH RECURSIVE u AS (
      SELECT user_id,
             epoch_us(min(ts)) AS f0,
             epoch_us(min(CASE WHEN event_type = 'purchase' THEN ts END)) AS fp
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CASE WHEN fp IS NOT NULL
                   AND (fp - f0) // 3600000000 <= 120
                  THEN (fp - f0) // 3600000000 ELSE 120 END AS t,
             CASE WHEN fp IS NOT NULL
                   AND (fp - f0) // 3600000000 <= 120
                  THEN 1 ELSE 0 END AS ev
      FROM u
    ),
    g AS (
      SELECT t, CAST(sum(ev) AS BIGINT) AS d, count(*) AS m
      FROM s GROUP BY t
    ),
    r AS (
      SELECT t, d,
             CAST(sum(m) OVER (ORDER BY t DESC) AS BIGINT) AS n,
             row_number() OVER (ORDER BY t ASC) AS rn
      FROM g
    ),
    f AS (SELECT rn, t, d, n, 1.0 - d * 1.0 / n AS fac FROM r),
    km AS (
      SELECT rn, t, d, n, fac AS srv FROM f WHERE rn = 1
      UNION ALL
      SELECT f.rn, f.t, f.d, f.n, km.srv * f.fac
      FROM km JOIN f ON f.rn = km.rn + 1
    )
    SELECT t, d, n AS n_at_risk,
           floor(srv * 1000000000.0 + 0.5) / 1000000000.0 AS survival
    FROM km WHERE d > 0
    """,
)
def survival_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curve for time-to-first-purchase (hours from
    a user's first event), right-censored at a 120-hour administrative
    follow-up horizon — the estimator behind activation/retention "time
    to value" curves. Distributed part: one user-keyed aggregation
    (min ts, min purchase ts) over the fact rows, then a groupBy onto the
    |distinct hours|-row life table — at 100 TB that table is still ≤
    horizon+1 rows, so at-risk suffix sums and the cumulative product
    S(t) = Π(1 − d/n) run DRIVER-SIDE on the collected life table (the
    model-table pattern: text_lm_bigram_score) as an explicit ascending
    left fold. The oracle states the identical fold with a recursive CTE
    rather than a windowed product() — window aggregation is free to
    re-associate the multiplication tree, and IEEE multiply is not
    associative; the recursive join pins left-to-right order on both
    engines, making the doubles bit-identical before the half-up round.
    Censored-only times carry factor 1.0 (multiplying by exactly 1.0 is
    an IEEE no-op) and are dropped from the output per convention."""
    import math

    ev = _t(spark, sf_dir, "events")
    horizon_h = 120
    us_per_h = 3_600_000_000
    u = ev.groupBy("user_id").agg(
        F.unix_micros(F.min("ts")).alias("f0"),
        F.unix_micros(
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        ).alias("fp"),
    )
    hrs = F.floor((F.col("fp") - F.col("f0")) / F.lit(us_per_h))
    observed = F.col("fp").isNotNull() & (hrs <= horizon_h)
    s = u.select(
        F.when(observed, hrs).otherwise(F.lit(horizon_h)).alias("t"),
        F.when(observed, F.lit(1)).otherwise(F.lit(0)).alias("ev"),
    )
    g = (
        s.groupBy("t")
        .agg(
            F.sum("ev").cast("bigint").alias("d"),
            F.count(F.lit(1)).alias("m"),
        )
        .orderBy("t")
        .collect()
    )
    # Driver-side life table: suffix-sum at-risk counts, left-fold cumprod.
    total = sum(row["m"] for row in g)
    rows, srv, seen = [], 1.0, 0
    for row in g:
        n = total - seen
        seen += row["m"]
        srv = srv * (1.0 - row["d"] / n)
        if row["d"] > 0:
            rows.append(
                (
                    int(row["t"]),
                    int(row["d"]),
                    int(n),
                    math.floor(srv * 1e9 + 0.5) / 1e9,
                )
            )
    return spark.createDataFrame(
        rows, "t bigint, d bigint, n_at_risk bigint, survival double"
    )


@query(
    "forecast_seasonal_backtest",
    oracle="""
    WITH b AS (
      SELECT event_type, value, hour(ts) AS hh, CAST(ts AS DATE) AS dd
      FROM events
    ),
    mx AS (SELECT max(dd) AS md FROM b),
    model AS (
      SELECT event_type, hh,
             floor((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS pred
      FROM b, mx WHERE dd < md - 6
      GROUP BY event_type, hh
    ),
    test AS (SELECT event_type, hh, value FROM b, mx WHERE dd >= md - 6)
    SELECT t.event_type,
           CAST(count(*) AS BIGINT) AS n_test,
           floor((CAST(sum(CAST(floor(abs(t.value - m.pred) * 1000000.0 + 0.5)
                                AS BIGINT)) AS DOUBLE)
                  / count(*)) + 0.5) / 1000000.0 AS mae,
           floor((CAST(sum(CAST(floor((t.value - m.pred) * 1000000.0 + 0.5)
                                AS BIGINT)) AS DOUBLE)
                  / count(*)) + 0.5) / 1000000.0 AS bias
    FROM test t JOIN model m USING (event_type, hh)
    GROUP BY t.event_type
    """,
)
def forecast_seasonal_backtest(spark, sf_dir):
    """Seasonal-naive forecast backtest: hold out the last 7 calendar
    days, predict each (series, hour-of-day) as its training-window mean,
    and score MAE and signed bias per series — the baseline every real
    forecasting deployment must beat, and the backtest harness shape
    (train/apply/score) itself. Float contract: the model mean uses the
    repo's exact-decimal-sum formula; per-row errors are then pinned to
    integer MICRO-UNITS (floor(err·1e6 + 0.5) as BIGINT — half-up works
    identically for negatives via floor on both engines), summed exactly
    as integers, and divided once — no order-dependent float accumulation
    anywhere. 100 TB: model is |series|×24 rows → broadcast join; train
    and test are each one scan-partial-agg pass; the global max date is a
    1-row broadcast."""
    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        "value",
        F.hour("ts").alias("hh"),
        F.col("ts").cast("date").alias("dd"),
    )
    mx = b.agg(F.max("dd").alias("md"))
    b = b.crossJoin(F.broadcast(mx))
    dec = F.col("value").cast("decimal(18,6)")
    model = (
        b.where(F.col("dd") < F.date_sub(F.col("md"), 6))
        .groupBy("event_type", "hh")
        .agg(
            round_half_up(
                F.sum(dec).cast("double") / F.count(F.lit(1)), 6
            ).alias("pred")
        )
    )
    test = b.where(F.col("dd") >= F.date_sub(F.col("md"), 6)).select(
        "event_type", "hh", "value"
    )
    err = F.col("value") - F.col("pred")
    abs_u = F.floor(F.abs(err) * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    sgn_u = F.floor(err * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    return (
        test.join(F.broadcast(model), ["event_type", "hh"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            (
                F.floor(
                    F.sum(abs_u).cast("double") / F.count(F.lit(1)) + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("mae"),
            (
                F.floor(
                    F.sum(sgn_u).cast("double") / F.count(F.lit(1)) + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("bias"),
        )
    )


@query(
    "trend_theil_sen",
    oracle="""
    WITH d AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
             floor((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS m
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT a.event_type,
             (b.m - a.m) / (b.di - a.di) AS slope
      FROM d a JOIN d b ON a.event_type = b.event_type AND a.di < b.di
    ),
    r AS (
      SELECT event_type, slope,
             row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
             count(*) OVER (PARTITION BY event_type) AS c
      FROM p
    )
    SELECT event_type,
           CAST(max(c) AS BIGINT) AS n_pairs,
           floor(((max(CASE WHEN rn = (c + 1) // 2 THEN slope END)
                   + max(CASE WHEN rn = (c + 2) // 2 THEN slope END)) / 2.0)
                 * 1000000000.0 + 0.5) / 1000000000.0 AS sen_slope
    FROM r GROUP BY event_type
    """,
)
def trend_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend: the median of all pairwise slopes of the
    daily-mean series per event type — the breakdown-resistant complement
    to the OLS slope (trend_slope_daily), immune to the outlier days the
    anomaly queries flag. Daily means come from exact decimal sums; the
    O(days²) pair table is |types|·C(days,2) rows — days are bounded (a
    year is 66k pairs), so this stays tiny at ANY corpus scale; the fact
    scan is the only big pass. The median is rank-PINNED, not
    quantile_cont: both engines pick ranks ⌊(c+1)/2⌋ and ⌊(c+2)/2⌋ via
    row_number and average them with the identically-written (a+b)/2 —
    interpolating quantile implementations are free to use a+(b-a)·f,
    which is not the same IEEE expression. Ordering ties on equal slopes
    don't matter: equal doubles average to themselves."""
    ev = _t(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    d = (
        ev.groupBy(
            "event_type",
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias(
                "di"
            ),
        )
        .agg(
            round_half_up(F.sum(dec).cast("double") / F.count(F.lit(1)), 6).alias(
                "m"
            )
        )
    )
    a = d.select("event_type", F.col("di").alias("di_a"), F.col("m").alias("m_a"))
    b = d.select("event_type", F.col("di").alias("di_b"), F.col("m").alias("m_b"))
    p = a.join(b, "event_type").where(F.col("di_a") < F.col("di_b")).select(
        "event_type",
        ((F.col("m_b") - F.col("m_a")) / (F.col("di_b") - F.col("di_a"))).alias(
            "slope"
        ),
    )
    wr = Window.partitionBy("event_type").orderBy("slope")
    wc = Window.partitionBy("event_type")
    r = p.select(
        "event_type",
        "slope",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("c"),
    )
    lo = F.max(F.when(F.col("rn") == F.floor((F.col("c") + 1) / 2), F.col("slope")))
    hi = F.max(F.when(F.col("rn") == F.floor((F.col("c") + 2) / 2), F.col("slope")))
    return r.groupBy("event_type").agg(
        F.max("c").cast("bigint").alias("n_pairs"),
        round_half_up((lo + hi) / F.lit(2.0), 9).alias("sen_slope"),
    )


@query(
    "forecast_holt_linear",
    oracle="""
    WITH RECURSIVE d AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
             floor((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS y
      FROM events GROUP BY 1, 2
    ),
    dr AS (
      SELECT event_type, di, y,
             CAST(row_number() OVER (
               PARTITION BY event_type ORDER BY di) AS BIGINT) AS rn
      FROM d
    ),
    d2 AS (
      SELECT event_type, di, y, rn,
             lead(y) OVER (PARTITION BY event_type ORDER BY rn) AS y_next
      FROM dr
    ),
    h AS (
      SELECT event_type, di, y, rn,
             y AS l, y_next - y AS b, CAST(NULL AS DOUBLE) AS f
      FROM d2 WHERE rn = 1
      UNION ALL
      SELECT d2.event_type, d2.di, d2.y, d2.rn,
             0.5 * d2.y + 0.5 * (h.l + h.b),
             0.3 * ((0.5 * d2.y + 0.5 * (h.l + h.b)) - h.l) + 0.7 * h.b,
             h.l + h.b
      FROM h JOIN d2
        ON d2.event_type = h.event_type AND d2.rn = h.rn + 1
    )
    SELECT event_type, di, y,
           floor(l * 1000000000.0 + 0.5) / 1000000000.0 AS level,
           floor(b * 1000000000.0 + 0.5) / 1000000000.0 AS trend,
           floor(f * 1000000000.0 + 0.5) / 1000000000.0 AS forecast
    FROM h
    """,
)
def forecast_holt_linear(spark, sf_dir):
    """Holt linear (double) exponential smoothing over each type's daily
    mean series — level + trend state recurrences, the step up from the
    seasonal-naive baseline and the classic example of an ITERATIVE
    algorithm that plain SQL can't express without recursion. The fact
    scan reduces to a |types|×|days| model table (exact decimal means);
    the coupled recurrences l_t = αy_t + (1−α)(l+b), b_t = β(l_t−l) +
    (1−β)b then run DRIVER-SIDE as a per-series left fold (model-table
    pattern), while the oracle replays the SAME fold with a recursive
    CTE carrying (l, b) — both engines evaluate the identically-written
    IEEE expressions in the same order, so the doubles match bitwise.
    Smoothing constants appear as LITERALS on both sides (0.5/0.5,
    0.3/0.7): writing 1−β instead of 0.7 would yield a DIFFERENT double
    than the 0.7 literal and break the hash. One-step-ahead forecast
    f_t = l_{t−1} + b_{t−1}; the base row's forecast is NULL by
    construction on both engines."""
    ev = _t(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    d = (
        ev.groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("di"),
        )
        .agg(
            round_half_up(F.sum(dec).cast("double") / F.count(F.lit(1)), 6).alias(
                "y"
            )
        )
        .collect()
    )
    series: dict[str, list] = {}
    for row in d:
        series.setdefault(row["event_type"], []).append((row["di"], row["y"]))

    def r9(x):
        import math

        return None if x is None else math.floor(x * 1e9 + 0.5) / 1e9

    rows = []
    for et, pts in series.items():
        pts.sort()
        l = pts[0][1]
        # Both sides index by RANK within the series, not calendar day
        # (ADVICE r4): the fold advances to the next observed day even
        # across calendar gaps and for series not starting at the epoch,
        # matching the oracle's rn = h.rn + 1 recursion. A single-day
        # series has no trend estimate — emit the base row with NULL
        # trend/forecast (the oracle's lead() yields NULL there).
        if len(pts) < 2:
            rows.append((et, pts[0][0], pts[0][1], r9(l), None, None))
            continue
        b = pts[1][1] - pts[0][1]
        rows.append((et, pts[0][0], pts[0][1], r9(l), r9(b), None))
        for di, y in pts[1:]:
            f = l + b
            l_new = 0.5 * y + 0.5 * (l + b)
            b_new = 0.3 * (l_new - l) + 0.7 * b
            l, b = l_new, b_new
            rows.append((et, di, y, r9(l), r9(b), r9(f)))
    return spark.createDataFrame(
        rows,
        "event_type string, di bigint, y double, level double, trend double,"
        " forecast double",
    )


@query(
    "attribution_position_based",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
      FROM events
    ),
    j AS (
      SELECT user_id, ts, event_id, event_type, is_p,
             CAST(coalesce(sum(is_p) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS journey,
             CAST(sum(is_p) OVER (PARTITION BY user_id) AS BIGINT) AS n_purch
      FROM e
    ),
    t AS (
      SELECT user_id, journey, event_type,
             row_number() OVER (PARTITION BY user_id, journey
                                ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id, journey) AS n
      FROM j WHERE is_p = 0 AND journey < n_purch
    ),
    c AS (
      SELECT event_type,
             CASE
               WHEN n = 1 THEN 1000000
               WHEN n = 2 THEN 500000
               WHEN rn = 1 OR rn = n THEN 400000
               ELSE CAST(floor(200000.0 / (n - 2) + 0.5) AS BIGINT)
             END AS ppm
      FROM t
    )
    SELECT event_type AS channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           floor((CAST(sum(ppm) AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5)
             / 1000000.0 AS credit
    FROM c GROUP BY event_type
    """,
)
def attribution_position_based(spark, sf_dir):
    """Position-based (U-shaped) multi-touch attribution: each completed
    purchase journey credits its first and last touches 40% each and
    splits the remaining 20% across the middle (100% / 50-50 for 1- and
    2-touch journeys). Journeys are carved with ONE user-keyed running
    count of prior purchases — no self-join per conversion; touches
    after a user's final purchase are unattributed and dropped. The
    fractional credits are pinned to integer PARTS-PER-MILLION
    (floor(200000/(n−2)+0.5) — the one non-terminating share) so the
    cross-channel totals are exact integer sums, order-free; the single
    double division happens once per output row. 100 TB: two window
    passes (user, then user×journey) and a |channels|-row result;
    journey state never materializes per-pair."""
    ev = _t(spark, sf_dir, "events")
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    w_prior = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_user = Window.partitionBy("user_id")
    j = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        is_p.alias("is_p"),
        F.coalesce(F.sum(is_p).over(w_prior), F.lit(0))
        .cast("bigint")
        .alias("journey"),
        F.sum(is_p).over(w_user).cast("bigint").alias("n_purch"),
    )
    w_j = Window.partitionBy("user_id", "journey").orderBy("ts", "event_id")
    w_jc = Window.partitionBy("user_id", "journey")
    t = (
        j.where((F.col("is_p") == 0) & (F.col("journey") < F.col("n_purch")))
        .select(
            "event_type",
            F.row_number().over(w_j).alias("rn"),
            F.count(F.lit(1)).over(w_jc).alias("n"),
        )
    )
    ppm = (
        F.when(F.col("n") == 1, F.lit(1000000))
        .when(F.col("n") == 2, F.lit(500000))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(400000))
        .otherwise(
            F.floor(F.lit(200000.0) / (F.col("n") - 2) + F.lit(0.5)).cast(
                "bigint"
            )
        )
    )
    return (
        t.select(F.col("event_type").alias("channel"), ppm.alias("ppm"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            round_half_up(F.sum("ppm").cast("double") / F.lit(1000000.0), 6).alias(
                "credit"
            ),
        )
    )


@query(
    "dq_referential_orphans",
    oracle="""
    WITH e AS (
      SELECT 'orders.o_custkey->customer' AS fk_edge,
             count(*) AS n_child,
             count(*) FILTER (WHERE NOT EXISTS (
               SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
             )) AS n_orphans
      FROM orders o
      UNION ALL
      SELECT 'lineitem.l_orderkey->orders',
             count(*),
             count(*) FILTER (WHERE NOT EXISTS (
               SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
             ))
      FROM lineitem l
      UNION ALL
      SELECT 'lineitem.l_partkey->part',
             count(*),
             count(*) FILTER (WHERE NOT EXISTS (
               SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey
             ))
      FROM lineitem l
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier',
             count(*),
             count(*) FILTER (WHERE NOT EXISTS (
               SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey
             ))
      FROM lineitem l
      UNION ALL
      SELECT 'customer.c_nationkey->nation',
             count(*),
             count(*) FILTER (WHERE NOT EXISTS (
               SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey
             ))
      FROM customer c
      UNION ALL
      SELECT 'supplier.s_nationkey->nation',
             count(*),
             count(*) FILTER (WHERE NOT EXISTS (
               SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey
             ))
      FROM supplier s
      UNION ALL
      SELECT 'nation.n_regionkey->region',
             count(*),
             count(*) FILTER (WHERE NOT EXISTS (
               SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey
             ))
      FROM nation n
    )
    SELECT fk_edge, CAST(n_child AS BIGINT) AS n_child,
           CAST(n_orphans AS BIGINT) AS n_orphans,
           floor(n_orphans * 1.0 / n_child * 1000000.0 + 0.5) / 1000000.0
             AS orphan_rate
    FROM e
    """,
)
def dq_referential_orphans(spark, sf_dir):
    """Referential-integrity audit over the star schema's seven FK edges
    (the graph operators/introspect.py discovers): child cardinality,
    orphan count (children whose FK hits no parent key), and orphan rate
    per edge — the DQ gate a warehouse load runs before exposing a
    snapshot, complementing dq_expectations' column-level checks. Each
    edge is a LEFT ANTI join against the parent's key column only —
    dimension keys broadcast; the two lineitem-vs-bigtable edges
    (orders) shuffle on the join key, which AQE handles. The three
    lineitem edges share one scan subtree per edge pair; counts are
    exact integers, so the union result hashes deterministically."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    edges = [
        ("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey", True),
        ("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey", False),
        (
            "lineitem.l_partkey->part",
            li,
            "l_partkey",
            _t(spark, sf_dir, "part"),
            "p_partkey",
            True,
        ),
        (
            "lineitem.l_suppkey->supplier",
            li,
            "l_suppkey",
            _t(spark, sf_dir, "supplier"),
            "s_suppkey",
            True,
        ),
        (
            "customer.c_nationkey->nation",
            c,
            "c_nationkey",
            _t(spark, sf_dir, "nation"),
            "n_nationkey",
            True,
        ),
        (
            "supplier.s_nationkey->nation",
            _t(spark, sf_dir, "supplier"),
            "s_nationkey",
            _t(spark, sf_dir, "nation"),
            "n_nationkey",
            True,
        ),
        (
            "nation.n_regionkey->region",
            _t(spark, sf_dir, "nation"),
            "n_regionkey",
            _t(spark, sf_dir, "region"),
            "r_regionkey",
            True,
        ),
    ]
    parts = []
    for name, child, ck, parent, pk, bcast in edges:
        keys = parent.select(pk).distinct()
        if bcast:
            keys = F.broadcast(keys)
        orphans = child.join(keys, child[ck] == keys[pk], "left_anti")
        parts.append(
            child.agg(F.count(F.lit(1)).alias("n_child")).crossJoin(
                orphans.agg(F.count(F.lit(1)).alias("n_orphans"))
            ).select(F.lit(name).alias("fk_edge"), "n_child", "n_orphans")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "fk_edge",
        F.col("n_child").cast("bigint").alias("n_child"),
        F.col("n_orphans").cast("bigint").alias("n_orphans"),
        round_half_up(
            F.col("n_orphans") * F.lit(1.0) / F.col("n_child"), 6
        ).alias("orphan_rate"),
    )


@query(
    "abc_pareto_parts",
    oracle="""
    WITH r AS (
      SELECT l_partkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_c4
      FROM lineitem GROUP BY l_partkey
    ),
    c AS (
      SELECT l_partkey, rev_c4,
             CAST(sum(rev_c4) OVER (ORDER BY rev_c4 DESC, l_partkey)
                  AS BIGINT) AS cum_c4,
             CAST(sum(rev_c4) OVER () AS BIGINT) AS tot_c4
      FROM r
    ),
    k AS (
      SELECT CASE
               WHEN CAST(cum_c4 AS DOUBLE) / CAST(tot_c4 AS DOUBLE) <= 0.80
                 THEN 'A'
               WHEN CAST(cum_c4 AS DOUBLE) / CAST(tot_c4 AS DOUBLE) <= 0.95
                 THEN 'B'
               ELSE 'C'
             END AS abc_class,
             rev_c4, tot_c4
      FROM c
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           floor((CAST(sum(rev_c4) AS DOUBLE) / 10000.0) * 100.0 + 0.5)
             / 100.0 AS revenue,
           floor((CAST(sum(rev_c4) AS DOUBLE) / CAST(max(tot_c4) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS revenue_share
    FROM k GROUP BY abc_class
    """,
)
def abc_pareto_parts(spark, sf_dir):
    """ABC (Pareto) classification of parts by discounted revenue: A =
    parts covering the first 80% of cumulative revenue, B the next 15%,
    C the tail — the inventory-analytics primitive behind stock-policy
    tiers. Revenue accumulates in the q9 scaled-integer idiom (cents ×
    cents → exact ×10⁴ units), so every sum is order-free int64. The
    cumulative revenue over parts ranked by revenue comes from
    ``operators/prefix.py::prefix_scan``. Class cuts compare identical
    exact-integer-derived doubles on both engines."""
    from delfos_etl_pipeline_spark.operators.prefix import prefix_scan

    li = _t(spark, sf_dir, "lineitem")
    rev_c4 = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    ).alias("rev_c4")
    r = li.groupBy("l_partkey").agg(rev_c4).withColumn(
        "_neg_rev", -F.col("rev_c4")
    )
    cum = prefix_scan(r, ["_neg_rev", "l_partkey"], {"cum_c4": "rev_c4"})
    tot = r.agg(F.sum("rev_c4").cast("bigint").alias("tot_c4"))
    share = F.col("cum_c4").cast("double") / F.col("tot_c4").cast("double")
    k = cum.crossJoin(F.broadcast(tot)).select(
        F.when(share <= 0.80, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "rev_c4",
        "tot_c4",
    )
    return k.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        round_half_up(F.sum("rev_c4").cast("double") / F.lit(10000.0), 2).alias(
            "revenue"
        ),
        round_half_up(
            F.sum("rev_c4").cast("double") / F.max("tot_c4").cast("double"), 6
        ).alias("revenue_share"),
    )


@query(
    "growth_accounting_weekly",
    oracle="""
    WITH a AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    ),
    s AS (
      SELECT user_id, wk,
             min(wk) OVER (PARTITION BY user_id) AS first_wk,
             lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
      FROM a
    ),
    t AS (
      SELECT wk,
             CAST(count(*) AS BIGINT) AS n_active,
             CAST(count(*) FILTER (WHERE wk = first_wk) AS BIGINT) AS n_new,
             CAST(count(*) FILTER (WHERE prev_wk = wk - 7) AS BIGINT)
               AS n_retained,
             CAST(count(*) FILTER (WHERE prev_wk IS NOT NULL
                                     AND prev_wk < wk - 7) AS BIGINT)
               AS n_resurrected
      FROM s GROUP BY wk
    )
    SELECT wk, n_active, n_new, n_retained, n_resurrected,
           coalesce(lag(n_active) OVER (ORDER BY wk), 0) - n_retained
             AS n_churned_from_prev
    FROM t
    """,
)
def growth_accounting_weekly(spark, sf_dir):
    """Weekly growth accounting (the new/retained/resurrected/churned
    decomposition every consumer-product dashboard runs): distinct
    (user, ISO week) activity, each row classified against the user's
    previous active week — new (first week ever), retained (active the
    immediately preceding week), resurrected (returned after a gap) —
    and churn derived by conservation: churned-from-prev = last week's
    actives minus this week's retained. Identity n_active = n_new +
    n_retained + n_resurrected holds by construction. One user-keyed
    window over the deduplicated activity relation (|users|×|weeks|
    rows, far smaller than the fact table), then a |weeks|-row lag.
    Both engines truncate to Monday-start ISO weeks."""
    ev = _t(spark, sf_dir, "events")
    a = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct()
    wu = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("wk")
    s = a.select(
        "user_id",
        "wk",
        F.min("wk").over(wu).alias("first_wk"),
        F.lag("wk").over(wo).alias("prev_wk"),
    )
    t = s.groupBy("wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum(F.when(F.col("wk") == F.col("first_wk"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(
            F.when(F.col("prev_wk") == F.date_sub(F.col("wk"), 7), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_wk").isNotNull()
                & (F.col("prev_wk") < F.date_sub(F.col("wk"), 7)),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_resurrected"),
    )
    wlag = Window.orderBy("wk")
    return t.select(
        "wk",
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        (
            F.coalesce(F.lag("n_active").over(wlag), F.lit(0))
            - F.col("n_retained")
        ).alias("n_churned_from_prev"),
    )


@query(
    "recsys_item_cosine",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    deg AS (
      SELECT l_partkey, count(*) AS c FROM op GROUP BY l_partkey
    ),
    co AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c_pair
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (
      SELECT pa AS part, pb AS rec, c_pair FROM co
      UNION ALL
      SELECT pb, pa, c_pair FROM co
    ),
    scored AS (
      SELECT s.part, s.rec, s.c_pair,
             floor(s.c_pair / sqrt(da.c * db.c) * 1000000.0 + 0.5)
               / 1000000.0 AS cosine
      FROM sym s
      JOIN deg da ON s.part = da.l_partkey
      JOIN deg db ON s.rec = db.l_partkey
    ),
    ranked AS (
      SELECT part, rec, c_pair, cosine,
             row_number() OVER (PARTITION BY part
                                ORDER BY cosine DESC, rec ASC) AS rk
      FROM scored
    )
    SELECT part, rec, CAST(c_pair AS BIGINT) AS c_pair, cosine,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def recsys_item_cosine(spark, sf_dir):
    """Item-item collaborative filtering ("also-bought"): cosine
    similarity on the binary order×part incidence — sim(i,j) =
    co-orders(i,j) / √(orders(i)·orders(j)) — with the top-3
    recommendations per part. Complements basket_association_rules
    (lift/confidence on the SAME co-occurrence relation) with the
    normalized-similarity ranking an online recommender serves. The
    pair generation self-joins WITHIN each order after (order, part)
    dedup, so the blow-up is Σ basket² — bounded by real basket sizes,
    never |parts|²; min-support ≥ 2 prunes singleton noise before the
    degree joins; cosine = int/√(int·int) is a single correctly-rounded
    IEEE op chain on both engines, and the per-part ranking ties break
    on the rec key. 100 TB: co-occurrence counting is one shuffle on
    orderkey + one on the pair — both combinable map-side; degrees
    broadcast at |parts| ≪ fact scale."""
    li = _t(spark, sf_dir, "lineitem")
    # Round 15 (guide §2.4 "two operations keyed the same way can share
    # one exchange"): repartition on the ORDER key once — hash(order)
    # clusters (order, part) too, so the dedup aggregate runs on that
    # partitioning AND both sides of the within-order self-join arrive
    # co-partitioned; the plan drops from three data-row exchanges
    # (distinct on the pair + one per join side) to this single one.
    op = (
        li.select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .distinct()
    )
    deg = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("pa"))
    b = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("pb"))
    co = (
        a.join(b, "l_orderkey")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("c_pair"))
        .where(F.col("c_pair") >= 2)
    )
    sym = co.select(
        F.col("pa").alias("part"), F.col("pb").alias("rec"), "c_pair"
    ).unionByName(
        co.select(F.col("pb").alias("part"), F.col("pa").alias("rec"), "c_pair")
    )
    da = deg.select(F.col("l_partkey").alias("part"), F.col("c").alias("ca"))
    db = deg.select(F.col("l_partkey").alias("rec"), F.col("c").alias("cb"))
    scored = (
        sym.join(F.broadcast(da), "part")
        .join(F.broadcast(db), "rec")
        .select(
            "part",
            "rec",
            "c_pair",
            round_half_up(
                F.col("c_pair") / F.sqrt(F.col("ca") * F.col("cb")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("part").orderBy(F.desc("cosine"), F.asc("rec"))
    return (
        scored.select(
            "part",
            "rec",
            F.col("c_pair").cast("bigint").alias("c_pair"),
            "cosine",
            F.row_number().over(w).alias("rk"),
        )
        .where(F.col("rk") <= 3)
        .select("part", "rec", "c_pair", "cosine", F.col("rk").cast("bigint").alias("rk"))
    )


@query(
    "seqpat_followed_by",
    oracle="""
    WITH u AS (
      SELECT user_id, event_type,
             min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY user_id, event_type
    ),
    n AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
    p AS (
      SELECT a.event_type AS t_first, b.event_type AS t_then,
             CAST(count(*) AS BIGINT) AS support
      FROM u a JOIN u b
        ON a.user_id = b.user_id
       AND a.event_type <> b.event_type
       AND a.first_ts < b.last_ts
      GROUP BY 1, 2
    )
    SELECT t_first, t_then, support,
           floor(support * 1.0 / n_users * 1000000.0 + 0.5) / 1000000.0
             AS support_rate
    FROM p, n
    """,
)
def seqpat_followed_by(spark, sf_dir):
    """Sequential-pattern mining, "followed-by" support: for every
    ordered type pair (a → b), the number of users with SOME a occurring
    before SOME b — the non-adjacent generalization of the Markov
    transition matrix (markov_event_transitions counts only immediate
    successors; funnels fix one path). The unbounded existential
    ("any a before any b") collapses to a per-user per-type (min_ts,
    max_ts) summary — a-before-b ⟺ first(a) < last(b) — so the pair
    probe is a |users|·|types|² self-join of the SUMMARY relation, never
    of events: the fact table is touched once, by one user×type
    aggregation. Support rates divide by the 1-row distinct-user count
    (broadcast). 100 TB: summary is |users|·|types| rows co-keyed on
    user_id, so the self-join is exchange-reusing and combinable."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    n = ev.agg(F.countDistinct("user_id").alias("n_users"))
    a = u.select(
        "user_id",
        F.col("event_type").alias("t_first"),
        F.col("first_ts").alias("fa"),
    )
    b = u.select(
        "user_id",
        F.col("event_type").alias("t_then"),
        F.col("last_ts").alias("lb"),
    )
    p = (
        a.join(b, "user_id")
        .where(
            (F.col("t_first") != F.col("t_then")) & (F.col("fa") < F.col("lb"))
        )
        .groupBy("t_first", "t_then")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )
    return p.crossJoin(F.broadcast(n)).select(
        "t_first",
        "t_then",
        "support",
        round_half_up(F.col("support") * F.lit(1.0) / F.col("n_users"), 6).alias(
            "support_rate"
        ),
    )


@query(
    "ols_elasticity_by_type",
    oracle="""
    WITH s AS (
      SELECT p.p_type,
             CAST(round(l.l_discount * 100) AS BIGINT) AS x,
             CAST(l.l_quantity AS BIGINT) AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    a AS (
      SELECT p_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM s GROUP BY p_type
    )
    SELECT p_type, n,
           floor(((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                   * CAST(sy AS DOUBLE))
                  / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                     * CAST(sx AS DOUBLE))) * 1000000000.0 + 0.5)
             / 1000000000.0 AS qty_per_discount_pt,
           floor((CAST(sy AS DOUBLE) / n) * 1000000.0 + 0.5) / 1000000.0
             AS avg_qty,
           floor((CAST(sx AS DOUBLE) / n) * 1000000.0 + 0.5) / 1000000.0
             AS avg_discount_pts
    FROM a WHERE n >= 2 AND n * sxx - sx * sx <> 0
    """,
)
def ols_elasticity_by_type(spark, sf_dir):
    """Cross-sectional discount elasticity: per part type, the OLS slope
    of order quantity on discount points — "how many extra units does a
    discount point buy" — the pricing-analytics regression, joined
    across the fact and the part dimension (trend_slope_daily regresses
    within a time series; this regresses across a join). ALL sufficient
    statistics are exact BIGINT sums (discount in integer points,
    quantity integral in the data), so the closed-form slope sees
    bit-identical operands with NO decimal machinery at all — the
    cheapest possible exactness tier (overflow bound: n·Σxy < 2⁶³ to
    ~sf 10⁶; widen to DECIMAL(38,0) beyond). Dimension broadcast, one
    shuffle of five numbers per type."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = li.join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    ).select(
        "p_type",
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x"),
        F.col("l_quantity").cast("bigint").alias("y"),
    )
    a = s.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    return a.where(
        (n >= 2) & (n * F.col("sxx") - F.col("sx") * F.col("sx") != 0)
    ).select(
        "p_type",
        "n",
        round_half_up((n * sxy - sx * sy) / (n * sxx - sx * sx), 9).alias(
            "qty_per_discount_pt"
        ),
        round_half_up(sy / n, 6).alias("avg_qty"),
        round_half_up(sx / n, 6).alias("avg_discount_pts"),
    )


@query(
    "ts_interarrival_stats",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    a AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(gap_us) AS BIGINT) AS sg,
             sum(CAST(gap_us AS DECIMAL(38,0)) * CAST(gap_us AS DECIMAL(38,0)))
               AS sgg,
             CAST(min(gap_us) AS BIGINT) AS mn,
             CAST(max(gap_us) AS BIGINT) AS mx
      FROM g WHERE gap_us IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, n_gaps,
           floor((CAST(sg AS DOUBLE) / n_gaps / 1000000.0) * 1000000.0 + 0.5)
             / 1000000.0 AS mean_gap_s,
           floor(sqrt(greatest(
                   (CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                    / n_gaps) / (n_gaps - 1), 0.0)) / 1000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS std_gap_s,
           CAST(mn AS DOUBLE) / 1000000.0 AS min_gap_s,
           CAST(mx AS DOUBLE) / 1000000.0 AS max_gap_s
    FROM a
    """,
)
def ts_interarrival_stats(spark, sf_dir):
    """Inter-arrival time statistics per event series — the telemetry
    characterization (mean/σ/extremes of the gap process) behind
    burstiness analysis, rate-limit sizing, and the watermark-delay
    choice the streaming queries hard-code. Gaps are EXACT integer
    microseconds from one lag window; Σg stays int64 (bounded by the
    total time span × rows) while Σg² accumulates in DECIMAL(38,0) —
    gap² reaches 10²⁰ at hour-scale gaps, past int64 — so both moments
    are order-free exact and the variance formula sees bit-identical
    doubles (the sql_std pattern on integer input). One hash exchange
    on the series key; five numbers per group out."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    g = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    dec = F.col("gap_us").cast("decimal(38,0)")
    a = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gap_us").cast("bigint").alias("sg"),
        F.sum(dec * dec).alias("sgg"),
        F.min("gap_us").cast("bigint").alias("mn"),
        F.max("gap_us").cast("bigint").alias("mx"),
    )
    n = F.col("n_gaps")
    sg = F.col("sg").cast("double")
    sgg = F.col("sgg").cast("double")
    var = F.greatest((sgg - sg * sg / n) / (n - 1), F.lit(0.0))
    return a.select(
        "event_type",
        "n_gaps",
        round_half_up(sg / n / F.lit(1000000.0), 6).alias("mean_gap_s"),
        round_half_up(F.sqrt(var) / F.lit(1000000.0), 6).alias("std_gap_s"),
        (F.col("mn").cast("double") / F.lit(1000000.0)).alias("min_gap_s"),
        (F.col("mx").cast("double") / F.lit(1000000.0)).alias("max_gap_s"),
    )


@query(
    "session_depth_stats",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    ), per AS (
      SELECT user_id, session_no,
             CAST(count(*) AS BIGINT) AS depth,
             epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
      FROM sess GROUP BY user_id, session_no
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(*) FILTER (WHERE depth = 1) AS BIGINT) AS n_bounces,
           floor(count(*) FILTER (WHERE depth = 1) * 1.0 / count(*)
                 * 1000000.0 + 0.5) / 1000000.0 AS bounce_rate,
           floor((CAST(sum(depth) AS DOUBLE) / count(*)) * 1000000.0 + 0.5)
             / 1000000.0 AS mean_depth,
           CAST(max(depth) AS BIGINT) AS max_depth,
           floor((CAST(sum(dur_us) AS DOUBLE) / count(*) / 1000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_duration_s
    FROM per
    """,
)
def session_depth_stats(spark, sf_dir):
    """Session-quality scorecard over the 30-minute-gap sessionization:
    session count, bounce rate (single-event sessions), mean/max depth,
    and mean duration — the engagement summary a product dashboard
    derives FROM the session relation session_windows materializes
    (native session_window group-by; the oracle re-derives sessions via
    lag+cumsum, re-certifying the semantics through a second consumer).
    Depth and duration are exact integers (counts; µs spans), so every
    reduction is order-free; the final scorecard is one row. Same
    single user-keyed exchange as session_windows, then a scalar
    aggregate."""
    ev = _t(spark, sf_dir, "events")
    per = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("depth"),
            (
                F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
            ).alias("dur_us"),
        )
    )
    n = F.count(F.lit(1))
    bounces = F.sum(F.when(F.col("depth") == 1, 1).otherwise(0))
    return per.agg(
        n.cast("bigint").alias("n_sessions"),
        bounces.cast("bigint").alias("n_bounces"),
        round_half_up(bounces * F.lit(1.0) / n, 6).alias("bounce_rate"),
        round_half_up(F.sum("depth").cast("double") / n, 6).alias("mean_depth"),
        F.max("depth").cast("bigint").alias("max_depth"),
        round_half_up(
            F.sum("dur_us").cast("double") / n / F.lit(1000000.0), 6
        ).alias("mean_duration_s"),
    )


@query(
    "market_concentration_hhi",
    oracle="""
    WITH r AS (
      SELECT p.p_type, l.l_suppkey,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS rev_c4
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_type, l.l_suppkey
    ),
    t AS (
      SELECT p_type, CAST(sum(rev_c4) AS BIGINT) AS tot_c4,
             CAST(count(*) AS BIGINT) AS n_suppliers
      FROM r GROUP BY p_type
    ),
    s AS (
      SELECT r.p_type, t.n_suppliers,
             CAST(floor(
               (CAST(r.rev_c4 AS DOUBLE) / CAST(t.tot_c4 AS DOUBLE))
               * (CAST(r.rev_c4 AS DOUBLE) / CAST(t.tot_c4 AS DOUBLE))
               * 1000000000000.0 + 0.5) AS BIGINT) AS share_sq_pico
      FROM r JOIN t USING (p_type)
    )
    SELECT p_type, CAST(max(n_suppliers) AS BIGINT) AS n_suppliers,
           floor(CAST(sum(share_sq_pico) AS DOUBLE) / 1000000000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS hhi
    FROM s GROUP BY p_type
    """,
)
def market_concentration_hhi(spark, sf_dir):
    """Herfindahl-Hirschman concentration index of supplier revenue per
    part type — Σ shareᵢ², the antitrust/market-structure metric (1/n
    for perfect competition → 1.0 for monopoly) that complements the ABC
    tiers with a single concentration number per market. Revenue in the
    q9 scaled-integer idiom; each squared share is an IEEE-pinned double
    then floored to integer PICO-units, so the per-market reduction is
    an exact integer sum — no float-accumulation order dependence across
    the |suppliers| terms (the micro-unit pattern, one decimal place
    deeper because shares square to 10⁻¹²-scale values). Two keyed
    aggregations and a broadcastable totals join; |types|-row output."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    ).cast("bigint")
    r = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "l_suppkey")
        .agg(rev.alias("rev_c4"))
    )
    t = r.groupBy("p_type").agg(
        F.sum("rev_c4").cast("bigint").alias("tot_c4"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    )
    share = F.col("rev_c4").cast("double") / F.col("tot_c4").cast("double")
    s = r.join(F.broadcast(t), "p_type").select(
        "p_type",
        "n_suppliers",
        F.floor(share * share * F.lit(1000000000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("share_sq_pico"),
    )
    return s.groupBy("p_type").agg(
        F.max("n_suppliers").cast("bigint").alias("n_suppliers"),
        round_half_up(
            F.sum("share_sq_pico").cast("double") / F.lit(1000000000000.0), 6
        ).alias("hhi"),
    )


@query(
    "returns_rate_by_brand",
    oracle="""
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(*) FILTER (WHERE l.l_returnflag = 'R') AS BIGINT)
             AS n_returned,
           floor(count(*) FILTER (WHERE l.l_returnflag = 'R') * 1.0
                 / count(*) * 1000000.0 + 0.5) / 1000000.0 AS return_rate,
           floor((CAST(sum(CASE WHEN l.l_returnflag = 'R'
                     THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                     ELSE 0 END) AS DOUBLE) / 10000.0) * 100.0 + 0.5) / 100.0
             AS revenue_returned
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def returns_rate_by_brand(spark, sf_dir):
    """Return-rate league table per brand: line share and discounted
    revenue flagged 'R' — the merchandising quality screen (which brands
    ship product that comes back) built from one broadcast dim join and
    one combinable aggregation; revenue in the q9 scaled-integer idiom
    so the returned-revenue sum is order-free exact. |brands|-row
    output; conditional aggregation instead of a second filtered scan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cents4 = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    is_r = F.col("l_returnflag") == "R"
    n = F.count(F.lit(1))
    nr = F.sum(F.when(is_r, 1).otherwise(0))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            n.cast("bigint").alias("n_lines"),
            nr.cast("bigint").alias("n_returned"),
            round_half_up(nr * F.lit(1.0) / n, 6).alias("return_rate"),
            round_half_up(
                F.sum(F.when(is_r, cents4).otherwise(0)).cast("double")
                / F.lit(10000.0),
                2,
            ).alias("revenue_returned"),
        )
    )


@query(
    "audience_overlap_jaccard",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    sz AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut
      GROUP BY event_type
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
           floor(i.n_both * 1.0 / (sa.n + sb.n - i.n_both) * 1000000.0 + 0.5)
             / 1000000.0 AS jaccard
    FROM inter i
    JOIN sz sa ON i.type_a = sa.event_type
    JOIN sz sb ON i.type_b = sb.event_type
    """,
)
def audience_overlap_jaccard(spark, sf_dir):
    """Audience-overlap matrix: Jaccard of the USER SETS behind every
    pair of event types — the segment-overlap analysis (does the
    error-hitting audience overlap the purchasing audience?) that
    set_ops_user_segments answers for two fixed segments, generalized
    to all C(|types|,2) pairs. The fact table reduces to the distinct
    (user, type) relation FIRST (|users|·|types| bound), the pair
    intersection is a user-keyed self-join of that summary — never of
    events — and set sizes broadcast back onto the |types|² result.
    Same summary-relation trick as seqpat_followed_by; exact integer
    ratios."""
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    sz = ut.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            round_half_up(
                F.col("n_both")
                * F.lit(1.0)
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "revenue_new_vs_repeat",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             min(o_orderdate) OVER (PARTITION BY o_custkey) AS first_od,
             o_orderdate
      FROM orders
    )
    SELECT mo,
           CAST(count(*) FILTER (WHERE o_orderdate = first_od) AS BIGINT)
             AS n_first_orders,
           CAST(count(*) FILTER (WHERE o_orderdate <> first_od) AS BIGINT)
             AS n_repeat_orders,
           floor((CAST(sum(CASE WHEN o_orderdate = first_od THEN cents
                               ELSE 0 END) AS DOUBLE) / 100.0) * 100.0 + 0.5)
             / 100.0 AS new_revenue,
           floor((CAST(sum(CASE WHEN o_orderdate <> first_od THEN cents
                               ELSE 0 END) AS DOUBLE) / 100.0) * 100.0 + 0.5)
             / 100.0 AS repeat_revenue
    FROM o GROUP BY mo
    """,
)
def revenue_new_vs_repeat(spark, sf_dir):
    """New-vs-repeat revenue split per month: orders placed on a
    customer's FIRST order date count as acquisition revenue, later
    orders as retention revenue — the growth-mix decomposition
    (complementing cohort_ltv_curve's cumulative view with a
    per-period one). First-order detection is an unbounded min window
    on the customer key — no self-join against an aggregate; revenue
    in exact cents. Ties (several orders on the first date) all count
    as 'first', the standard convention, and identically on both
    engines since the comparison is date equality. One customer-keyed
    exchange, |months|-row output."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = o.select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("mo"),
        cents.alias("cents"),
        (F.col("o_orderdate") == F.min("o_orderdate").over(w)).alias("is_first"),
    )
    return base.groupBy("mo").agg(
        F.sum(F.when(F.col("is_first"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_first_orders"),
        F.sum(F.when(~F.col("is_first"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_repeat_orders"),
        round_half_up(
            F.sum(F.when(F.col("is_first"), F.col("cents")).otherwise(0)).cast(
                "double"
            )
            / F.lit(100.0),
            2,
        ).alias("new_revenue"),
        round_half_up(
            F.sum(F.when(~F.col("is_first"), F.col("cents")).otherwise(0)).cast(
                "double"
            )
            / F.lit(100.0),
            2,
        ).alias("repeat_revenue"),
    )


@query(
    "ts_acf_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             floor((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS m
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), st AS (
      SELECT event_type, count(*) AS nd,
             CAST(sum(CAST(m AS DECIMAL(18,6))) AS DOUBLE) AS sm
      FROM daily GROUP BY event_type
    ), p AS (
      SELECT event_type, sm / nd AS mu FROM st
    ), den AS (
      SELECT d.event_type,
             CAST(sum(CAST(floor((d.m - p.mu) * (d.m - p.mu)
                                 * 1000000000000.0 + 0.5)
                           / 1000000000000.0 AS DECIMAL(30,12))) AS DOUBLE)
               AS den
      FROM daily d JOIN p USING (event_type) GROUP BY d.event_type
    ), lagged AS (
      SELECT event_type, day, m,
             lag(m, 1) OVER w AS l1, lag(m, 2) OVER w AS l2,
             lag(m, 3) OVER w AS l3, lag(m, 4) OVER w AS l4,
             lag(m, 5) OVER w AS l5, lag(m, 6) OVER w AS l6,
             lag(m, 7) OVER w AS l7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), pairs AS (
      SELECT event_type, 1 AS lag_k, m, l1 AS ml FROM lagged WHERE l1 IS NOT NULL
      UNION ALL
      SELECT event_type, 2, m, l2 FROM lagged WHERE l2 IS NOT NULL
      UNION ALL
      SELECT event_type, 3, m, l3 FROM lagged WHERE l3 IS NOT NULL
      UNION ALL
      SELECT event_type, 4, m, l4 FROM lagged WHERE l4 IS NOT NULL
      UNION ALL
      SELECT event_type, 5, m, l5 FROM lagged WHERE l5 IS NOT NULL
      UNION ALL
      SELECT event_type, 6, m, l6 FROM lagged WHERE l6 IS NOT NULL
      UNION ALL
      SELECT event_type, 7, m, l7 FROM lagged WHERE l7 IS NOT NULL
    ), num AS (
      SELECT pr.event_type, pr.lag_k,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CAST(floor((pr.m - p.mu) * (pr.ml - p.mu)
                                 * 1000000000000.0 + 0.5)
                           / 1000000000000.0 AS DECIMAL(30,12))) AS DOUBLE)
               AS num
      FROM pairs pr JOIN p USING (event_type)
      GROUP BY pr.event_type, pr.lag_k
    )
    SELECT n.event_type, CAST(n.lag_k AS BIGINT) AS lag_k, n.n_pairs,
           floor((n.num / d.den) * 1000000.0 + 0.5) / 1000000.0 AS acf
    FROM num n JOIN den d USING (event_type)
    """,
)
def ts_acf_daily(spark, sf_dir):
    """Sample autocorrelation function (lags 1-7) of each type's daily
    mean series — the diagnostic that tells a forecasting pipeline
    whether yesterday predicts today (high lag-1), whether a weekly
    cycle exists (lag-7 spike — pairs with anomaly_seasonal_zscore's
    deseasonalization and forecast_holt_linear's trend model), or
    whether the series is white noise (all lags ~ 0). Standard ACF
    normalization: r_k = sum((x_t-mu)(x_{t+k}-mu)) / sum((x_t-mu)^2),
    both sums over the FULL series (denominator counts all nd days).

    Scale shape: one raw-data pass into the |types|x|days| daily model
    table (map-side combined, persisted — it feeds mean, denominator,
    and the lag pivots); the seven lags come from ONE day-ordered window
    pass emitting seven lag columns, unpivoted via posexplode — never
    seven self-joins. Exactness: every cross/square term is rounded
    half-up to 12 dp into DECIMAL(30,12) before its sum (order-free
    under any partitioning — the cusum/silhouette term-pinning
    contract); mu is one exact-decimal-sum-over-count division."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            round_half_up(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("m")
        )
        .persist()
    )
    p = daily.groupBy("event_type").agg(
        (
            F.sum(F.col("m").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    )
    den = (
        daily.join(F.broadcast(p), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                round_half_up(
                    (F.col("m") - F.col("mu")) * (F.col("m") - F.col("mu")),
                    12,
                ).cast("decimal(30,12)")
            )
            .cast("double")
            .alias("den")
        )
    )
    wl = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "m",
        *[F.lag("m", k).over(wl).alias(f"l{k}") for k in range(1, 8)],
    )
    pairs = (
        lagged.select(
            "event_type",
            "m",
            F.posexplode(
                F.array(*[F.col(f"l{k}") for k in range(1, 8)])
            ).alias("pos", "ml"),
        )
        .where(F.col("ml").isNotNull())
        .withColumn("lag_k", (F.col("pos") + 1).cast("bigint"))
    )
    num = (
        pairs.join(F.broadcast(p), "event_type")
        .groupBy("event_type", "lag_k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                round_half_up(
                    (F.col("m") - F.col("mu")) * (F.col("ml") - F.col("mu")),
                    12,
                ).cast("decimal(30,12)")
            )
            .cast("double")
            .alias("num"),
        )
    )
    return num.join(F.broadcast(den), "event_type").select(
        "event_type",
        "lag_k",
        "n_pairs",
        round_half_up(F.col("num") / F.col("den"), 6).alias("acf"),
    )


@query(
    "ts_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             floor((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS m
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), tr AS (
      SELECT event_type, day, m,
             CASE WHEN count(*) OVER w = 7
                  THEN floor((CAST(sum(CAST(m AS DECIMAL(18,6))) OVER w
                                   AS DOUBLE) / 7.0) * 1000000.0 + 0.5)
                       / 1000000.0
             END AS trend
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
      SELECT event_type, day, m, trend,
             CAST(dayofweek(day) AS BIGINT) + 1 AS dow,
             m - trend AS d
      FROM tr
    ), seas AS (
      SELECT event_type, dow,
             floor((CAST(sum(CAST(floor(d * 1000000000000.0 + 0.5)
                                  / 1000000000000.0 AS DECIMAL(24,12)))
                         AS DOUBLE) / count(d)) * 1000000.0 + 0.5)
               / 1000000.0 AS seasonal
      FROM det WHERE d IS NOT NULL GROUP BY event_type, dow
    )
    SELECT t.event_type, t.day, t.m AS daily_mean, t.trend,
           s.seasonal,
           CASE WHEN t.d IS NOT NULL
                THEN floor((t.d - s.seasonal) * 1000000.0 + 0.5) / 1000000.0
           END AS remainder
    FROM det t JOIN seas s
      ON t.event_type = s.event_type AND t.dow = s.dow
    """,
)
def ts_seasonal_decompose(spark, sf_dir):
    """Classical additive seasonal decomposition of each type's daily
    mean series: trend = centered 7-day moving average (full windows
    only — edges get NULL, the textbook rule), seasonal = day-of-week
    mean of the detrended series, remainder = what neither explains.
    The moving-average + seasonal-means construction is the 'decompose'
    baseline every anomaly/forecast stack starts from (STL's ancestor);
    anomaly_seasonal_zscore consumes the same structure implicitly.

    Scale shape: one raw pass to the |types|x|days| model table
    (persisted), one day-ordered bounded window (ROWS +-3) for the
    trend, one |types|x7 aggregation for the seasonal profile joined
    back broadcast. Exactness: the trailing frame sums DECIMAL(18,6)
    (exact at any partitioning), trend divides once by the 7.0 literal;
    detrended terms pin to 12 dp DECIMAL before the seasonal mean; the
    day-of-week key is ISO-normalized across engines (Spark dayofweek
    is 1-7 Sunday-based, DuckDB 0-6 — the oracle adds 1, the
    f_datetime_suite contract)."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            round_half_up(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("m")
        )
        .persist()
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "m",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            round_half_up(
                F.sum(F.col("m").cast("decimal(18,6)")).over(w).cast("double")
                / F.lit(7.0),
                6,
            ),
        ).alias("trend"),
    )
    det = tr.select(
        "event_type",
        "day",
        "m",
        "trend",
        F.dayofweek("day").cast("bigint").alias("dow"),
        (F.col("m") - F.col("trend")).alias("d"),
    )
    seas = (
        det.where(F.col("d").isNotNull())
        .groupBy("event_type", "dow")
        .agg(
            round_half_up(
                F.sum(
                    round_half_up(F.col("d"), 12).cast("decimal(24,12)")
                ).cast("double")
                / F.count("d"),
                6,
            ).alias("seasonal")
        )
    )
    return det.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type",
        "day",
        F.col("m").alias("daily_mean"),
        "trend",
        "seasonal",
        F.when(
            F.col("d").isNotNull(),
            round_half_up(F.col("d") - F.col("seasonal"), 6),
        ).alias("remainder"),
    )


@query(
    "orders_backlog_aging",
    oracle="""
    WITH snap AS (SELECT max(o_orderdate) AS asof FROM orders),
    open_o AS (
      SELECT o.o_orderkey, o.o_totalprice,
             CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                           CAST(s.asof AS DATE)) AS BIGINT) AS age_days
      FROM orders o, snap s
      WHERE o.o_orderstatus = 'O'
    ),
    b AS (
      SELECT CASE
               WHEN age_days <= 365 THEN '0-1y'
               WHEN age_days <= 1095 THEN '1-3y'
               WHEN age_days <= 1825 THEN '3-5y'
               ELSE '5y+'
             END AS age_bucket,
             o_totalprice
      FROM open_o
    )
    SELECT age_bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           floor((CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE))
                 * 100.0 + 0.5) / 100.0 AS backlog_value
    FROM b GROUP BY age_bucket
    """,
)
def orders_backlog_aging(spark, sf_dir):
    """Open-order backlog aging report: orders still in status 'O' at
    the dataset's as-of date (max order date — the snapshot the
    reference's daily batch would pin), bucketed by age with count and
    total value per bucket — the operations dashboard that surfaces how
    much revenue is stuck and for how long (pairs with
    orders_open_concurrency's sweep-line view of WIP over time).

    Scale shape: the as-of date is a 1-row aggregate broadcast into the
    fact scan (no driver round-trip in the plan — the scalar rides the
    cross join); the status filter pushes to the parquet scan; the
    bucket CASE is pure codegen; one 4-key aggregation with map-side
    combine ends the plan. Money sums accumulate in DECIMAL(18,2)
    (exact, order-free) and surface as half-up-rounded doubles."""
    o = _t(spark, sf_dir, "orders")
    snap = o.agg(F.max("o_orderdate").alias("asof"))
    age = F.datediff(
        F.col("asof").cast("date"), F.col("o_orderdate").cast("date")
    ).cast("bigint")
    bucket = (
        F.when(age <= 365, "0-1y")
        .when(age <= 1095, "1-3y")
        .when(age <= 1825, "3-5y")
        .otherwise("5y+")
    )
    return (
        o.where(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(snap))
        .groupBy(bucket.alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            round_half_up(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("backlog_value"),
        )
    )


@query(
    "dq_psi_drift",
    oracle="""
    WITH mm AS (SELECT min(value) AS mn, max(value) AS mx
                FROM events WHERE value IS NOT NULL),
    b AS (
      SELECT least(CAST(floor((value - mn) / (mx - mn) * 10.0) AS BIGINT),
                   9) AS bin,
             CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                  THEN 1 ELSE 0 END AS is_e
      FROM events, mm WHERE value IS NOT NULL
    ),
    c AS (
      SELECT bin, CAST(sum(is_e) AS BIGINT) AS n_e,
             CAST(sum(1 - is_e) AS BIGINT) AS n_a
      FROM b GROUP BY bin
    ),
    t AS (SELECT CAST(sum(n_e) AS BIGINT) AS te,
                 CAST(sum(n_a) AS BIGINT) AS ta FROM c),
    g AS (SELECT unnest(generate_series(0, 9)) AS bin),
    j AS (
      SELECT CAST(g.bin AS BIGINT) AS bin,
             CAST(coalesce(c.n_e, 0) AS BIGINT) AS n_expected,
             CAST(coalesce(c.n_a, 0) AS BIGINT) AS n_actual
      FROM g LEFT JOIN c ON g.bin = c.bin
    )
    SELECT j.bin, j.n_expected, j.n_actual,
           CASE WHEN j.n_expected > 0 AND j.n_actual > 0
                THEN floor(((j.n_expected * 1.0 / t.te)
                            - (j.n_actual * 1.0 / t.ta))
                           * ln((j.n_expected * 1.0 / t.te)
                                / (j.n_actual * 1.0 / t.ta))
                           * 1000000.0 + 0.5) / 1000000.0
           END AS psi_term
    FROM j, t
    """,
)
def dq_psi_drift(spark, sf_dir):
    """Population Stability Index over the value column: first half of
    the month (expected window) vs second half (actual window), 10
    equal-width bins over the observed range — the model-monitoring
    drift screen (PSI > 0.2 = retrain) that localizes WHICH part of the
    distribution moved, where a single KS statistic (ks_two_sample)
    only says THAT it moved. Per-bin psi_term = (p-q)*ln(p/q); empty
    bins on either side yield NULL (no Laplace fudge — a bin appearing
    from nothing is a signal the report should show as such).

    Scale shape: one min/max scalar pass broadcast into one binning
    pass (codegen CASE on a pure arithmetic bin id — no quantile state),
    one 10-key aggregation; the 10x2 count table is driver-sized by
    construction, so the ln terms are evaluated ONCE in Python (host
    libm = DuckDB's libm, the dq_benford_digits pinned-libm contract —
    never the JVM's Math.log, which can differ by an ulp). The integer
    bin counts and their IEEE ratio/difference arithmetic are
    bit-identical in both engines."""
    import math

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    mm = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    b = ev.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.floor(
                (F.col("value") - F.col("mn"))
                / (F.col("mx") - F.col("mn"))
                * F.lit(10.0)
            ).cast("bigint"),
            F.lit(9).cast("bigint"),
        ).alias("bin"),
        F.when(
            F.to_date("ts") <= F.lit("2024-01-15").cast("date"), 1
        )
        .otherwise(0)
        .alias("is_e"),
    )
    counts = {
        r["bin"]: (r["n_e"], r["n_a"])
        for r in b.groupBy("bin")
        .agg(
            F.sum("is_e").cast("bigint").alias("n_e"),
            F.sum(1 - F.col("is_e")).cast("bigint").alias("n_a"),
        )
        .collect()
    }
    te = sum(v[0] for v in counts.values())
    ta = sum(v[1] for v in counts.values())
    rows = []
    for bin_id in range(10):
        ne, na = counts.get(bin_id, (0, 0))
        term = None
        if ne > 0 and na > 0:
            p, q = ne * 1.0 / te, na * 1.0 / ta
            term = math.floor((p - q) * math.log(p / q) * 1e6 + 0.5) / 1e6
        rows.append((bin_id, ne, na, term))
    return spark.createDataFrame(
        rows, "bin bigint, n_expected bigint, n_actual bigint, psi_term double"
    )


@query(
    "streaks_gaps_islands",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), r AS (
      SELECT user_id, day,
             CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS BIGINT) AS rn
      FROM d
    ), g AS (
      SELECT user_id, day, day - CAST(rn AS INTEGER) AS grp FROM r
    )
    SELECT user_id, min(day) AS streak_start, max(day) AS streak_end,
           CAST(count(*) AS BIGINT) AS streak_days
    FROM g GROUP BY user_id, grp
    """,
)
def streaks_gaps_islands(spark, sf_dir):
    """Gaps-and-islands: each user's runs of CONSECUTIVE active days
    (start, end, length) — the engagement-streak primitive behind
    retention features, streak-based rewards, and churn-risk flags
    (growth_accounting_weekly sees week-over-week presence; this sees
    the day-level runs inside it). Classic island key: day minus the
    per-user day rank is CONSTANT exactly while days are consecutive —
    one dense integer/date subtraction, no iterative chasing.

    Scale shape: DISTINCT (user, day) collapses the fact table first
    (map-side combinable — the raw scan never reaches the window), then
    ONE user-keyed window (high-cardinality key, cluster-parallel) and
    ONE (user, island) aggregation — two keyed exchanges total, all
    integer/date arithmetic, no UDF. Pure calendar math is identical in
    both engines, so the match is exact with no rounding contract
    needed."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.select(
        "user_id",
        "day",
        F.date_sub(
            F.col("day"), F.row_number().over(w).cast("int")
        ).alias("grp"),
    )
    return g.groupBy("user_id", "grp").agg(
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
        F.count(F.lit(1)).cast("bigint").alias("streak_days"),
    ).drop("grp")


@query(
    "risk_var_es_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             floor((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS m
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), r AS (
      SELECT event_type, day, m,
             CAST(row_number() OVER (
               PARTITION BY event_type ORDER BY m, day) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
      FROM daily
    ), k AS (
      SELECT event_type, nd,
             CAST(ceil(0.05 * nd) AS BIGINT) AS kk
      FROM r GROUP BY event_type, nd
    )
    SELECT r.event_type, k.nd, k.kk AS k_tail,
           max(CASE WHEN r.rn = k.kk THEN r.m END) AS var95,
           floor((CAST(sum(CASE WHEN r.rn <= k.kk
                                THEN CAST(r.m AS DECIMAL(18,6)) END)
                       AS DOUBLE) / k.kk) * 1000000.0 + 0.5)
             / 1000000.0 AS es95
    FROM r JOIN k USING (event_type)
    GROUP BY r.event_type, k.nd, k.kk
    """,
)
def risk_var_es_daily(spark, sf_dir):
    """Lower-tail risk pair per event type over the daily-mean series:
    95% Value-at-Risk (the k-th smallest daily mean, nearest-rank
    definition k = ceil(0.05·n) — a RANK-pinned quantile, so no
    interpolation expression can diverge between engines) and Expected
    Shortfall (the exact mean of those k tail days — the coherent risk
    measure Basel moved to because VaR alone ignores how bad the tail
    is). The ops reading: 'on the worst 5% of days, the average level
    was es95'.

    Scale shape: one raw pass to the |types|x|days| model table, one
    type-keyed ranking window over days (calendar-bounded), one
    type-keyed aggregation — map-side combinable, broadcast-free. Tail
    sums accumulate in DECIMAL(18,6) (order-free), VaR is a plain
    element pick via MAX(CASE rn = k), and ties in m break on day, so
    ranking is total in both engines."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        round_half_up(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("m")
    )
    wr = Window.partitionBy("event_type").orderBy("m", "day")
    wc = Window.partitionBy("event_type")
    r = daily.select(
        "event_type",
        "m",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wc).cast("bigint").alias("nd"),
    )
    kk = F.ceil(F.lit(0.05) * F.col("nd")).cast("bigint")
    r2 = r.withColumn("kk", kk)
    return r2.groupBy("event_type", "nd", F.col("kk").alias("k_tail")).agg(
        F.max(F.when(F.col("rn") == F.col("kk"), F.col("m"))).alias("var95"),
        round_half_up(
            F.sum(
                F.when(
                    F.col("rn") <= F.col("kk"),
                    F.col("m").cast("decimal(18,6)"),
                )
            ).cast("double")
            / F.col("k_tail"),
            6,
        ).alias("es95"),
    )


@query(
    "user_event_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type
    ), pt AS (
      SELECT user_id, n,
             CAST(floor((CASE WHEN n > 0
                  THEN (n * 1.0 / sum(n) OVER (PARTITION BY user_id))
                       * ln(n * 1.0 / sum(n) OVER (PARTITION BY user_id))
             END) * 1000000000000.0 + 0.5) / 1000000000000.0
                  AS DECIMAL(24,12)) AS term
      FROM c
    ), t AS (
      SELECT user_id,
             CAST(sum(n) AS BIGINT) AS nt,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(term) AS DOUBLE) AS hraw
      FROM pt GROUP BY user_id
    )
    SELECT user_id, nt AS n_events, k AS n_types,
           floor((-hraw) * 1000000.0 + 0.5) / 1000000.0 AS entropy,
           CASE WHEN k > 1
                THEN floor(((-hraw) / ln(k * 1.0)) * 1000000.0 + 0.5)
                     / 1000000.0
                ELSE 0.0 END AS entropy_norm
    FROM t
    """,
)
def user_event_entropy(spark, sf_dir):
    """Shannon entropy of each user's event-type mix — the
    explorer-vs-specialist behavioral segmentation signal (H=0: one
    event type only; H=ln k: uniform across all k types; the
    normalized form compares users with different type counts). Joins
    the profiling family as the per-entity counterpart of
    mutual_information's corpus-level dependence measure.

    Scale shape: one (user, type)-keyed count with map-side combine
    (the raw scan's only pass), then a user-keyed aggregation of <=
    |types| rows each — no broadcast, no window over raw events.
    Exactness: p = n/nt is an identical integer-ratio IEEE division;
    p*ln(p) follows the repo's in-engine ln contract (the
    text_tfidf_top_terms precedent — integer-ratio inputs, half-up
    rounding); each term then pins to DECIMAL(24,12) before the
    per-user sum so accumulation order can never move the hash."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wt = Window.partitionBy("user_id")
    p = F.col("n") * 1.0 / F.sum("n").over(wt)
    terms = c.select(
        "user_id",
        "n",
        # pinned to DECIMAL before the sum: even a <=5-term double sum is
        # partial/merge-order-dependent across partitions (ADVICE-r4
        # class); the decimal accumulation is order-free.
        round_half_up(F.when(F.col("n") > 0, p * F.log(p)), 12)
        .cast("decimal(24,12)")
        .alias("term"),
    )
    t = terms.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("term").cast("double").alias("hraw"),
    )
    return t.select(
        "user_id",
        "n_events",
        "n_types",
        round_half_up(-F.col("hraw"), 6).alias("entropy"),
        F.when(
            F.col("n_types") > 1,
            round_half_up(
                (-F.col("hraw")) / F.log(F.col("n_types") * 1.0), 6
            ),
        )
        .otherwise(0.0)
        .alias("entropy_norm"),
    )


@query(
    "events_fano_hourly",
    oracle="""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(n) AS BIGINT) AS sn,
             CAST(sum(n * n) AS BIGINT) AS sn2
      FROM h GROUP BY event_type
    )
    SELECT event_type, n_hours,
           floor((sn * 1.0 / n_hours) * 1000000.0 + 0.5) / 1000000.0
             AS mean_per_hour,
           floor(((sn2 * 1.0 / n_hours) - (sn * 1.0 / n_hours)
                  * (sn * 1.0 / n_hours)) * 1000000.0 + 0.5) / 1000000.0
             AS var_per_hour,
           floor((((sn2 * 1.0 / n_hours) - (sn * 1.0 / n_hours)
                   * (sn * 1.0 / n_hours)) / (sn * 1.0 / n_hours))
                 * 1000000.0 + 0.5) / 1000000.0 AS fano
    FROM s
    """,
)
def events_fano_hourly(spark, sf_dir):
    """Fano factor (index of dispersion, variance/mean of hourly event
    counts) per type — the point-process burstiness test: ~1 means
    Poisson-like arrivals (capacity planning can use the mean), >> 1
    means bursty clumping (the p99 story anomaly_seasonal_zscore then
    localizes), << 1 means scheduler-regular traffic. One number per
    type that tells you whether mean-based sizing is even valid.

    Scale shape: hourly bucketing is the first map-side-combinable
    aggregation (the raw scan's only pass), the per-type moment
    reduction runs over |types|x|hours| rows. Exactness: counts are
    integers, n*n sums are exact BIGINTs (no decimal needed — pure
    integer moments), and mean/variance/Fano are identical IEEE
    expressions over those integer sums, rounded half-up at 6 dp."""
    ev = _t(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s = h.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("n").cast("bigint").alias("sn"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sn2"),
    )
    mean = F.col("sn") * 1.0 / F.col("n_hours")
    var = (F.col("sn2") * 1.0 / F.col("n_hours")) - mean * mean
    return s.select(
        "event_type",
        "n_hours",
        round_half_up(mean, 6).alias("mean_per_hour"),
        round_half_up(var, 6).alias("var_per_hour"),
        round_half_up(var / mean, 6).alias("fano"),
    )


@query(
    "dq_uniqueness_profile",
    oracle="""
    WITH cols AS (
      SELECT 'event_type' AS col_name, event_type AS val FROM events
      UNION ALL
      SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
      UNION ALL
      SELECT 'props', props FROM events
    ), c AS (
      SELECT col_name, val, CAST(count(*) AS BIGINT) AS n
      FROM cols WHERE val IS NOT NULL GROUP BY col_name, val
    ), s AS (
      SELECT col_name,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_distinct,
             min(struct_pack(neg_n := -n, v := val)).v AS top_value,
             CAST(max(n) AS BIGINT) AS top_count
      FROM c GROUP BY col_name
    )
    SELECT col_name, n_rows, n_distinct, top_value, top_count,
           floor((top_count * 1.0 / n_rows) * 1000000.0 + 0.5) / 1000000.0
             AS top_share,
           floor((n_distinct * 1.0 / n_rows) * 1000000.0 + 0.5) / 1000000.0
             AS uniqueness
    FROM s
    """,
)
def dq_uniqueness_profile(spark, sf_dir):
    """Column-level uniqueness/dominance profile (the pandas-profiling /
    Deequ staple): per profiled column — total non-null rows, distinct
    count, the most frequent value with its share (ties to the
    lexicographically smallest value, deterministic), and the
    uniqueness ratio. The screen that catches constant columns
    (uniqueness ~ 0, top_share ~ 1), accidental key columns, and
    enum-cardinality drift before they poison joins or models.

    Scale shape: the profiled columns stack into (col_name, val) long
    form via ONE in-row explode over a single scan (a UNION of
    projections would re-scan the source once per column — verified in
    the physical plan and rewritten), then two keyed aggregations —
    (col, val) counts with map-side combine, then a 3-key reduction
    where the argmax rides as a struct MIN ((-count, value)
    lexicographic — partial-aggregable, no per-column sort). Integer
    counts; pinned 6-dp ratios."""
    ev = _t(spark, sf_dir, "events")
    cols = ev.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("event_type").alias("col_name"),
                    F.col("event_type").alias("val"),
                ),
                F.struct(
                    F.lit("user_id").alias("col_name"),
                    F.col("user_id").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("props").alias("col_name"),
                    F.col("props").alias("val"),
                ),
            )
        ).alias("cv")
    ).select(F.col("cv.col_name").alias("col_name"), F.col("cv.val").alias("val"))
    c = (
        cols.where(F.col("val").isNotNull())
        .groupBy("col_name", "val")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    s = c.groupBy("col_name").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.min(
            F.struct((-F.col("n")).alias("neg_n"), F.col("val").alias("v"))
        )["v"].alias("top_value"),
        F.max("n").cast("bigint").alias("top_count"),
    )
    return s.select(
        "col_name",
        "n_rows",
        "n_distinct",
        "top_value",
        "top_count",
        round_half_up(F.col("top_count") * 1.0 / F.col("n_rows"), 6).alias(
            "top_share"
        ),
        round_half_up(F.col("n_distinct") * 1.0 / F.col("n_rows"), 6).alias(
            "uniqueness"
        ),
    )


@query(
    "orders_median_gap_days",
    oracle="""
    WITH o AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             lag(CAST(o_orderdate AS DATE)) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS prev_d
      FROM orders
    ), g AS (
      SELECT o_custkey,
             CAST(datediff('day', prev_d, d) AS BIGINT) AS gap
      FROM o WHERE prev_d IS NOT NULL
    ), r AS (
      SELECT o_custkey, gap,
             CAST(row_number() OVER (
               PARTITION BY o_custkey ORDER BY gap) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS c
      FROM g
    )
    SELECT o_custkey,
           CAST(max(c) AS BIGINT) AS n_gaps,
           (max(CASE WHEN rn = (c + 1) // 2 THEN gap END) * 1.0
            + max(CASE WHEN rn = (c + 2) // 2 THEN gap END)) / 2.0
             AS median_gap_days
    FROM r GROUP BY o_custkey
    """,
)
def orders_median_gap_days(spark, sf_dir):
    """Median days between consecutive orders per customer — the
    purchase-cadence feature behind replenishment reminders and the
    'expected next order' churn clock (orders_rfm_segmentation bins
    recency once; this captures each customer's own rhythm, robust to
    one long vacation gap where the mean is not). Median over a
    HIGH-CARDINALITY key: per-customer rank windows parallelize across
    the cluster (nothing like w6's 5-key ceiling).

    Exactness (the rank-PIN median contract): the median is the
    average of the elements at ranks floor((c+1)/2) and floor((c+2)/2)
    — written as (a*1.0 + b)/2.0 IDENTICALLY in both engines, never an
    interpolating quantile whose a+(b-a)*f form is a different IEEE
    expression. Gaps are exact integer day differences (both engines
    BIGINT — Spark datediff returns INT and is cast up)."""
    o = _t(spark, sf_dir, "orders")
    wlag = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (
        o.select(
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("d"),
            F.lag(F.col("o_orderdate").cast("date")).over(wlag).alias(
                "prev_d"
            ),
        )
        .where(F.col("prev_d").isNotNull())
        .select(
            "o_custkey",
            F.datediff("d", "prev_d").cast("bigint").alias("gap"),
        )
    )
    wr = Window.partitionBy("o_custkey").orderBy("gap")
    wc = Window.partitionBy("o_custkey")
    r = g.select(
        "o_custkey",
        "gap",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wc).cast("bigint").alias("c"),
    )
    lo = F.max(
        F.when(F.col("rn") == F.floor((F.col("c") + 1) / 2), F.col("gap"))
    )
    hi = F.max(
        F.when(F.col("rn") == F.floor((F.col("c") + 2) / 2), F.col("gap"))
    )
    return r.groupBy("o_custkey").agg(
        F.max("c").cast("bigint").alias("n_gaps"),
        ((lo * 1.0 + hi) / 2.0).alias("median_gap_days"),
    )


@query(
    "ivm_agg_merge",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS value_sum,
           floor((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                  / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS value_mean
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    """,
)
def ivm_agg_merge(spark, sf_dir):
    """Incremental view maintenance for an aggregate table: the Spark
    side deliberately computes the per-type stats as TWO partial
    aggregations — the 'materialized base' (first half of the month)
    and the 'arriving delta' (second half) — then MERGES the partials
    (sum of counts, sum of exact decimal sums), while the oracle
    recomputes from scratch over everything. The exact hash match IS
    the IVM correctness contract: because every state component is a
    commutative monoid (BIGINT count, DECIMAL sum — never a stored
    float mean), base ⊕ delta ≡ full recompute, bit for bit. This is
    the pattern that lets a 100 TB nightly aggregate absorb a daily
    delta in O(delta) instead of O(history): partials per partition,
    merged at read or compaction time (the mergeable-sketch design the
    approx-distinct/percentile twins use, here in exact form).

    Scale shape: two disjoint scans (in production: one delta scan plus
    a read of the stored partial table), one tiny keyed merge — the
    merge input is |types| rows per side."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    dec = F.col("value").cast("decimal(18,6)")

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("pn"),
            F.sum(dec).alias("ps"),
        )

    base = partial(ev.where(F.to_date("ts") <= F.lit("2024-01-15").cast("date")))
    delta = partial(ev.where(F.to_date("ts") > F.lit("2024-01-15").cast("date")))
    merged = (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("pn").cast("bigint").alias("n_events"),
            F.sum("ps").alias("s"),
        )
    )
    return merged.select(
        "event_type",
        "n_events",
        round_half_up(F.col("s").cast("double"), 6).alias("value_sum"),
        round_half_up(
            F.col("s").cast("double") / F.col("n_events"), 6
        ).alias("value_mean"),
    )


@query(
    "funnel_negative_condition",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_err
      FROM events
    ), c AS (
      SELECT user_id, ts, event_id, event_type, run_err,
             min(CASE WHEN event_type = 'purchase'
                      THEN struct_pack(pts := ts, peid := event_id,
                                       pre := run_err) END)
               OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                     ROWS UNBOUNDED PRECEDING) AS nxt
      FROM e
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_views,
           CAST(sum(CASE WHEN nxt.pts IS NOT NULL
                          AND (nxt.pts > ts OR (nxt.pts = ts
                               AND nxt.peid > event_id))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           CAST(sum(CASE WHEN nxt.pts IS NOT NULL
                          AND (nxt.pts > ts OR (nxt.pts = ts
                               AND nxt.peid > event_id))
                          AND nxt.pre - run_err = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
    FROM c WHERE event_type = 'view'
    GROUP BY user_id
    """,
)
def funnel_negative_condition(spark, sf_dir):
    """Negative-condition funnel: view -> purchase with NO error in
    between — the exclusion-step pattern ('converted WITHOUT hitting an
    error page') that plain step funnels (funnel_conversion,
    seqpat_followed_by) cannot express, and the naive triple self-join
    prices at O(n³). Here it is TWO linear window passes: a running
    error count per user (ascending), then the nearest FOLLOWING
    purchase — with its error count — carried as a struct MIN in one
    DESCENDING running frame (the reversed-running-min idiom from the
    gapfill lesson: following-frame aggregates rescan per row, but a
    reversed cumulative frame is incremental). clean = the purchase's
    error count minus the view's (neither endpoint is an error, so the
    difference counts exactly the errors strictly between). Both
    windows key on user_id — one hash exchange, cluster-parallel,
    O(1) frame state. Exact integers; struct comparison breaks ts ties
    by event_id identically in both engines."""
    ev = _t(spark, sf_dir, "events")
    wasc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    e = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .over(wasc)
        .cast("bigint")
        .alias("run_err"),
    )
    wdesc = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    nxt = F.min(
        F.when(
            F.col("event_type") == "purchase",
            F.struct(
                F.col("ts").alias("pts"),
                F.col("event_id").alias("peid"),
                F.col("run_err").alias("pre"),
            ),
        )
    ).over(wdesc)
    c = e.withColumn("nxt", nxt)
    after = F.col("nxt.pts").isNotNull() & (
        (F.col("nxt.pts") > F.col("ts"))
        | (
            (F.col("nxt.pts") == F.col("ts"))
            & (F.col("nxt.peid") > F.col("event_id"))
        )
    )
    return (
        c.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_views"),
            F.sum(F.when(after, 1).otherwise(0))
            .cast("bigint")
            .alias("n_converted"),
            F.sum(
                F.when(
                    after & (F.col("nxt.pre") - F.col("run_err") == 0), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clean"),
        )
    )


@query(
    "stats_bootstrap_ci_mean",
    oracle="""
    WITH reps AS (
      SELECT e.event_type, e.value, t.b,
             CAST(('0x' || substring(
                     md5(CAST(e.event_id AS VARCHAR) || ':'
                         || CAST(t.b // 5 AS VARCHAR)),
                     1 + 6 * (t.b % 5), 6)) AS BIGINT) AS u
      FROM events e, unnest(generate_series(0, 39)) AS t(b)
      WHERE e.value IS NOT NULL
    ), w AS (
      SELECT event_type, b,
             CASE WHEN u < 6171992 THEN 0
                  WHEN u < 12343985 THEN 1
                  WHEN u < 15429982 THEN 2
                  WHEN u < 16458647 THEN 3
                  WHEN u < 16715813 THEN 4
                  WHEN u < 16767247 THEN 5
                  ELSE 6 END AS wt,
             value
      FROM reps
    ), m AS (
      SELECT event_type, b,
             floor((CAST(sum(wt * CAST(floor(value * 1000000.0 + 0.5)
                                       / 1000000.0 AS DECIMAL(18,6)))
                         AS DOUBLE)
                    / sum(wt)) * 1000000.0 + 0.5) / 1000000.0 AS mean_b
      FROM w GROUP BY event_type, b HAVING sum(wt) > 0
    ), r AS (
      SELECT event_type, mean_b,
             CAST(row_number() OVER (
               PARTITION BY event_type ORDER BY mean_b, b) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nb
      FROM m
    ), full_m AS (
      SELECT event_type,
             floor((CAST(sum(CAST(floor(value * 1000000.0 + 0.5)
                                  / 1000000.0 AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS mean_full
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT r.event_type, f.mean_full,
           CAST(max(r.nb) AS BIGINT) AS n_replicates,
           max(CASE WHEN r.rn = 2 THEN r.mean_b END) AS ci_lo,
           max(CASE WHEN r.rn = 39 THEN r.mean_b END) AS ci_hi
    FROM r JOIN full_m f USING (event_type)
    GROUP BY r.event_type, f.mean_full
    """,
)
def stats_bootstrap_ci_mean(spark, sf_dir):
    """Percentile-bootstrap 95% confidence interval for the per-type
    mean — 40 Poisson-bootstrap replicates (Chamandy et al.'s
    'Estimating Uncertainty for Massive Data Streams', the
    one-pass-friendly bootstrap: resampling WITH replacement is
    approximated by giving each row an independent Poisson(1) weight
    per replicate, so no global resample shuffle ever happens), CI =
    rank-pinned 2nd / 39th replicate means. The report every mean
    should ship with: 'the average is X, and with this much data it
    could plausibly be anywhere in [lo, hi]'.

    Determinism/exactness: the Poisson weights come from integer
    24-bit md5 slices (five 6-hex draws per hash — the crypto hash
    dominated at one md5 per draw) compared against INTEGER
    inverse-CDF cutoffs (6171992 = floor(16^6·P(X<=0)), ...) — no
    float comparison, no RNG state, identical in any engine and on
    re-run; weighted sums
    accumulate in DECIMAL; replicate means rank-pin with a tie-break
    on the replicate id. Scale shape: the 40 replicates ride ONE
    explode of the scan (40x map work, map-side combined into
    |types|x40 partials — never 40 scans, never a resample shuffle);
    everything after is model-table-sized."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())

    B = 40
    # One md5 yields FIVE replicate draws (6-hex slices -> 24-bit
    # buckets): 8 crypto hashes per row instead of 40. Round 15 (guide
    # §1 measurement: 4.79 s execution, ~all of it the single scan task
    # — one-row-group parquet means the explode+hash+partial-agg stage
    # ran on ONE core): the 8 hashes are now computed ONCE per SOURCE
    # row in a pre-explode array (the old form re-evaluated the md5
    # expression per exploded row — 40 evaluations/row with only 8
    # distinct values), each hash is exploded to its 5 draws, and the
    # scan is spread across cores first (spread_scan — scale-adaptive,
    # a no-op whenever the input yields enough splits by itself). Same
    # md5 inputs, same 6-hex slices, same integer ladder
    # (floor(16^6 · P(Poisson(1) <= k)) cutoffs), so every weight —
    # and every decimal sum below — is bit-identical to the certified
    # form; only the evaluation count and the stage parallelism change.
    dec = (
        F.floor(F.col("value") * 1000000.0 + 0.5) / 1000000.0
    ).cast("decimal(18,6)")
    md_arr = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ":", F.col("event_id").cast("string"), F.lit(str(g))
                )
            )
            for g in range(B // 5)
        ]
    )
    base = spread_scan(
        ev.select("event_type", "event_id", "value"),
        sf_dir, "events", "event_id",
    )
    hashed = base.select(
        "event_type",
        dec.alias("vd"),
        F.posexplode(md_arr).alias("g", "_md"),
    )

    def _wt(u):
        return (
            F.when(u < 6171992, 0)
            .when(u < 12343985, 1)
            .when(u < 15429982, 2)
            .when(u < 16458647, 3)
            .when(u < 16715813, 4)
            .when(u < 16767247, 5)
            .otherwise(6)
        )

    wt5 = F.transform(
        F.sequence(F.lit(0), F.lit(4)),
        lambda s: _wt(
            F.conv(
                F.col("_md").substr(
                    (F.lit(1) + 6 * s).cast("int"), F.lit(6)
                ),
                16,
                10,
            ).cast("bigint")
        ),
    )
    m = (
        hashed.select(
            "event_type", "vd", "g", F.posexplode(wt5).alias("s", "wt")
        )
        .select(
            "event_type",
            (F.col("g") * 5 + F.col("s")).cast("int").alias("b"),
            "wt",
            "vd",
        )
        .groupBy("event_type", "b")
        .agg(
            F.sum("wt").alias("sw"),
            F.sum(F.col("wt") * F.col("vd")).alias("svd"),
        )
        .where(F.col("sw") > 0)
        .select(
            "event_type",
            "b",
            round_half_up(
                F.col("svd").cast("double") / F.col("sw"), 6
            ).alias("mean_b"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("mean_b", "b")
    wc = Window.partitionBy("event_type")
    r = m.select(
        "event_type",
        "mean_b",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wc).cast("bigint").alias("nb"),
    )
    full_m = ev.groupBy("event_type").agg(
        round_half_up(
            F.sum(dec).cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_full")
    )
    return (
        r.join(F.broadcast(full_m), "event_type")
        .groupBy("event_type", "mean_full")
        .agg(
            F.max("nb").cast("bigint").alias("n_replicates"),
            F.max(F.when(F.col("rn") == 2, F.col("mean_b"))).alias("ci_lo"),
            F.max(F.when(F.col("rn") == 39, F.col("mean_b"))).alias("ci_hi"),
        )
    )


@query(
    "dq_null_rate_daily",
    oracle="""
    WITH s AS (
      SELECT CAST(ts AS DATE) AS day, 'value' AS col_name,
             CASE WHEN value IS NULL THEN 1 ELSE 0 END AS is_null
      FROM events
      UNION ALL
      SELECT CAST(ts AS DATE), 'props',
             CASE WHEN props IS NULL THEN 1 ELSE 0 END
      FROM events
      UNION ALL
      SELECT CAST(ts AS DATE), 'user_id',
             CASE WHEN user_id IS NULL THEN 1 ELSE 0 END
      FROM events
    )
    SELECT day, col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(is_null) AS BIGINT) AS n_null,
           floor((sum(is_null) * 1.0 / count(*)) * 1000000.0 + 0.5)
             / 1000000.0 AS null_rate
    FROM s GROUP BY day, col_name
    """,
)
def dq_null_rate_daily(spark, sf_dir):
    """Null-rate drift by column BY DAY — the time dimension
    dq_uniqueness_profile lacks: a whole-table null rate hides the
    upstream schema break that started on the 14th (one bad deploy
    averages away in a month of data; the daily series spikes the day
    it happened). The standard freshness/completeness monitor a
    warehouse runs after each daily load (pairs with dq_expectations'
    one-shot gates).

    Scale shape: the three monitored columns stack via ONE in-row
    explode over a single scan (the dq_uniqueness_profile rewrite
    lesson — a union of projections re-scans per column), then one
    (day, col) aggregation with map-side combine; integer counts and a
    pinned 6-dp rate. Partition-pruned to the audited window when the
    table is date-partitioned."""
    ev = _t(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    s = ev.select(
        day,
        F.explode(
            F.array(
                F.struct(
                    F.lit("value").alias("col_name"),
                    F.when(F.col("value").isNull(), 1)
                    .otherwise(0)
                    .alias("is_null"),
                ),
                F.struct(
                    F.lit("props").alias("col_name"),
                    F.when(F.col("props").isNull(), 1)
                    .otherwise(0)
                    .alias("is_null"),
                ),
                F.struct(
                    F.lit("user_id").alias("col_name"),
                    F.when(F.col("user_id").isNull(), 1)
                    .otherwise(0)
                    .alias("is_null"),
                ),
            )
        ).alias("cv"),
    ).select("day", F.col("cv.col_name").alias("col_name"), F.col("cv.is_null").alias("is_null"))
    return s.groupBy("day", "col_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("is_null").cast("bigint").alias("n_null"),
        round_half_up(F.sum("is_null") * 1.0 / F.count(F.lit(1)), 6).alias(
            "null_rate"
        ),
    )


@query(
    "funnel_time_to_convert",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type FROM events
    ), c AS (
      SELECT user_id, ts, event_id, event_type,
             min(CASE WHEN event_type = 'purchase'
                      THEN struct_pack(pts := ts, peid := event_id) END)
               OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                     ROWS UNBOUNDED PRECEDING) AS nxt
      FROM e
    ), d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST((epoch_us(nxt.pts) - epoch_us(ts)) // 1000000 AS BIGINT)
               AS delay_s
      FROM c
      WHERE event_type = 'view' AND nxt.pts IS NOT NULL
        AND (nxt.pts > ts OR (nxt.pts = ts AND nxt.peid > event_id))
    ), r AS (
      SELECT day, delay_s,
             CAST(row_number() OVER (
               PARTITION BY day ORDER BY delay_s) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY day) AS BIGINT) AS c
      FROM d
    )
    SELECT day,
           CAST(max(c) AS BIGINT) AS n_conversions,
           (max(CASE WHEN rn = (c + 1) // 2 THEN delay_s END) * 1.0
            + max(CASE WHEN rn = (c + 2) // 2 THEN delay_s END)) / 2.0
             AS p50_delay_s,
           CAST(max(CASE WHEN rn = c - (c // 10) THEN delay_s END)
                AS BIGINT) AS p90_delay_s
    FROM r GROUP BY day
    """,
)
def funnel_time_to_convert(spark, sf_dir):
    """Time-to-convert distribution by day: for every view that
    eventually purchases, the delay to that NEXT purchase, summarized
    as daily rank-pinned p50/p90 — the latency half of the funnel
    story (funnel_conversion counts WHO converts;
    funnel_negative_condition counts who converts cleanly; this says
    HOW LONG conversion takes, the number a checkout-flow change is
    judged by). Reuses the carried-struct reversed running-min idiom
    (one user-keyed window pass finds each view's next purchase), then
    delays pin to integer SECONDS via epoch-microsecond arithmetic
    (never hour-boundary date math) and rank-pin per day — all
    cluster-parallel keys, no self-join. Exact integers end to end;
    the p50 average is the (a*1.0+b)/2.0 pinned form."""
    ev = _t(spark, sf_dir, "events")
    wdesc = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    nxt = F.min(
        F.when(
            F.col("event_type") == "purchase",
            F.struct(
                F.col("ts").alias("pts"), F.col("event_id").alias("peid")
            ),
        )
    ).over(wdesc)
    c = ev.select("user_id", "ts", "event_id", "event_type").withColumn(
        "nxt", nxt
    )
    after = F.col("nxt.pts").isNotNull() & (
        (F.col("nxt.pts") > F.col("ts"))
        | (
            (F.col("nxt.pts") == F.col("ts"))
            & (F.col("nxt.peid") > F.col("event_id"))
        )
    )
    d = (
        c.where((F.col("event_type") == "view") & after)
        .select(
            F.to_date("ts").alias("day"),
            F.floor(
                (
                    F.unix_micros(F.col("nxt.pts"))
                    - F.unix_micros(F.col("ts"))
                )
                / 1000000
            )
            .cast("bigint")
            .alias("delay_s"),
        )
    )
    wr = Window.partitionBy("day").orderBy("delay_s")
    wc = Window.partitionBy("day")
    r = d.select(
        "day",
        "delay_s",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wc).cast("bigint").alias("c"),
    )
    lo = F.max(
        F.when(F.col("rn") == F.floor((F.col("c") + 1) / 2), F.col("delay_s"))
    )
    hi = F.max(
        F.when(F.col("rn") == F.floor((F.col("c") + 2) / 2), F.col("delay_s"))
    )
    p90 = F.max(
        F.when(
            F.col("rn") == F.col("c") - F.floor(F.col("c") / 10),
            F.col("delay_s"),
        )
    )
    return r.groupBy("day").agg(
        F.max("c").cast("bigint").alias("n_conversions"),
        ((lo * 1.0 + hi) / 2.0).alias("p50_delay_s"),
        p90.cast("bigint").alias("p90_delay_s"),
    )
