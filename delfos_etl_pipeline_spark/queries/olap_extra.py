"""Range frames, array/JSON functions, SQL facade, null-safe join, set ops, gap fill, TPC-DS rollup shapes.

Split from the monolithic queries.py registry (round 4); behavior
unchanged — importing this module registers its queries.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from delfos_etl_pipeline_spark.queries._registry import _t, query

@query(
    "w4_trailing_range_frame",
    oracle="""
    SELECT user_id, ts,
           count(*) OVER w AS n_trailing_30m,
           round(max(value) OVER w, 4) AS max_trailing_30m
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING AND CURRENT ROW)
    """,
)
def w4_trailing_range_frame(spark, sf_dir):
    """RANGE frame over event time (the window-frame type the w1-w3
    suite doesn't cover): per-user trailing 30-minute event count and max
    — the rate-limiting / burst-detection shape. Spark RANGE frames need
    a numeric ordering column, so the frame runs over unix microseconds
    with the interval as a µs offset; bounds are inclusive on both ends
    in both engines. One shuffle on user_id, state = one sliding frame
    per partition."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-30 * 60 * 1_000_000, 0)
    )
    return ev.select(
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_trailing_30m"),
        F.round(F.max("value").over(w), 4).alias("max_trailing_30m"),
    )


@query(
    "f_array_unnest_stats",
    oracle="""
    WITH v AS (SELECT embedding::DOUBLE[] AS e FROM embeddings),
    u AS (SELECT generate_subscripts(e, 1) - 1 AS dim_idx, unnest(e) AS x
          FROM v)
    SELECT dim_idx, count(*) AS n,
           round(min(x), 6) AS min_val, round(max(x), 6) AS max_val
    FROM u GROUP BY dim_idx ORDER BY dim_idx
    """,
)
def f_array_unnest_stats(spark, sf_dir):
    """Array unnesting with ordinality (posexplode): flatten every
    embedding to (dimension index, value) rows and profile each of the 64
    dimensions — the nested-data pattern behind per-feature normalization
    stats. Gap-safe aggregates only (count/min/max; an avg here would be
    accumulation-order-dependent)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    return (
        # posexplode pos is INT; the oracle's generate_subscripts is
        # BIGINT — cast before the group so the key column width matches.
        emb.select(F.posexplode(e).alias("dim_idx", "x"))
        .withColumn("dim_idx", F.col("dim_idx").cast("long"))
        .groupBy("dim_idx")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("x"), 6).alias("min_val"),
            F.round(F.max("x"), 6).alias("max_val"),
        )
        .orderBy("dim_idx")
    )


@query(
    "f_array_ops",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT vec_id,
           len(e) AS dim,
           round(sqrt(list_dot_product(e, e)), 6) AS l2_norm,
           round(list_max(e), 6) AS max_elem
    FROM v
    """,
)
def f_array_ops(spark, sf_dir):
    """Array higher-order functions, JVM-side (no UDF): per-vector L2
    norm via aggregate() over zip_with products, dimension, max element.
    Both engines fold the array left-to-right, so the double sums are
    bit-identical despite being floating-point. The same expressions
    power the similarity family's hot path (similarity/knn.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    dot = F.aggregate(
        F.zip_with(e, e, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        # size() is INT, DuckDB len() is BIGINT — width-match the oracle.
        F.size(e).cast("long").alias("dim"),
        F.round(F.sqrt(dot), 6).alias("l2_norm"),
        F.round(F.array_max(e), 6).alias("max_elem"),
    )


@query(
    "sql_facade_text_query",
    oracle="""
    SELECT e.event_type,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users,
           min(e.ts) AS first_ts,
           max(e.ts) AS last_ts
    FROM events e
    WHERE e.ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND e.ts <  TIMESTAMP '2024-01-25 00:00:00'
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def sql_facade_text_query(spark, sf_dir):
    """The SQL-text surface (plans/sql_facade.register_sql — SURVEY §3.3:
    temp views + spark.sql replace the reference API's hand-built SQL
    strings): the exact query string a user would write runs through the
    same Catalyst pipeline as the DataFrame plans, with filters pushed to
    the scan all the same."""
    from delfos_etl_pipeline_spark.plans.sql_facade import register_sql

    register_sql(spark, {"events_v": _t(spark, sf_dir, "events")})
    return spark.sql("""
        SELECT e.event_type,
               count(*) AS n_events,
               count(DISTINCT e.user_id) AS n_users,
               min(e.ts) AS first_ts,
               max(e.ts) AS last_ts
        FROM events_v e
        WHERE e.ts >= TIMESTAMP '2024-01-05 00:00:00'
          AND e.ts <  TIMESTAMP '2024-01-25 00:00:00'
        GROUP BY e.event_type
        ORDER BY e.event_type
    """)


@query(
    "j_null_safe_join",
    oracle="""
    WITH d AS (SELECT doc_id, NULLIF(lang, 'en') AS lang_n FROM documents),
         g AS (SELECT lang_n AS lang_g, count(*) AS n_group
               FROM d GROUP BY lang_n)
    SELECT d.doc_id, d.lang_n, g.n_group
    FROM d JOIN g ON d.lang_n IS NOT DISTINCT FROM g.lang_g
    """,
)
def j_null_safe_join(spark, sf_dir):
    """Null-safe equi-join (eqNullSafe ≡ IS NOT DISTINCT FROM): NULL keys
    match each other instead of dropping — the semantic corner plain `=`
    joins silently lose rows on. NULLs are injected (the majority
    language becomes NULL) so the null group is large enough that a
    regression to `=` semantics changes the row count, not just values."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.nullif(F.col("lang"), F.lit("en")).alias("lang_n")
    )
    g = d.groupBy(F.col("lang_n").alias("lang_g")).agg(
        F.count(F.lit(1)).alias("n_group")
    )
    return d.join(
        F.broadcast(g), d.lang_n.eqNullSafe(g.lang_g)
    ).select("doc_id", "lang_n", "n_group")


@query(
    "set_ops_user_segments",
    oracle="""
    SELECT 'both' AS segment, count(*) AS n_users FROM (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      INTERSECT
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        AND ts <  TIMESTAMP '2024-01-30 00:00:00') t1
    UNION ALL
    SELECT 'first_half_only', count(*) FROM (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      EXCEPT
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        AND ts <  TIMESTAMP '2024-01-30 00:00:00') t2
    ORDER BY segment
    """,
)
def set_ops_user_segments(spark, sf_dir):
    """Set operations (INTERSECT / EXCEPT, distinct semantics) — user
    retention segmentation across two halves of the month. Spark plans
    both as joins under the hood (semi/anti on the distinct sets), so
    they shuffle once on user_id; the count rollup is a 1-row agg."""
    ev = _t(spark, sf_dir, "events")

    def half(lo, hi):
        return (
            ev.where((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
            .select("user_id")
            .distinct()
        )

    h1 = half("2024-01-01 00:00:00", "2024-01-15 00:00:00")
    h2 = half("2024-01-15 00:00:00", "2024-01-30 00:00:00")
    both = h1.intersect(h2).agg(F.count(F.lit(1)).alias("n_users")).select(
        F.lit("both").alias("segment"), "n_users"
    )
    only1 = h1.subtract(h2).agg(
        F.count(F.lit(1)).alias("n_users")
    ).select(F.lit("first_half_only").alias("segment"), "n_users")
    return both.union(only1).orderBy("segment")


@query(
    "ts_gap_fill",
    oracle="""
    WITH hourly AS (
      SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS h,
             count(*) AS n_obs, max(value) AS max_value
      FROM events WHERE value > 300 GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1
    ), grid AS (
      SELECT b.event_type, g.h
      FROM bounds b, unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS g(h)
    )
    SELECT g.event_type, g.h AS window_start,
           coalesce(hh.n_obs, 0) AS n_obs,
           last_value(hh.max_value IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.h
             ROWS UNBOUNDED PRECEDING) AS max_value_filled,
           CASE WHEN hh.n_obs IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM grid g
    LEFT JOIN hourly hh ON g.event_type = hh.event_type AND g.h = hh.h
    """,
)
def ts_gap_fill(spark, sf_dir):
    """Gap filling for sparse sensor series (operators/gapfill.py): rare
    high-value events bucketed hourly leave holes; densify materializes
    the missing (key, hour) slots from a per-key sequence (no driver
    loop) and forward_fill carries the last observation with one
    ignore-nulls window pass. Gap-safe aggregates only (count, max —
    exact on both engines)."""
    from delfos_etl_pipeline_spark.operators.gapfill import densify, forward_fill

    ev = _t(spark, sf_dir, "events").where(F.col("value") > 300)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("window_start")
    ).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.max("value").alias("max_value"),
    )
    dense = densify(hourly, "event_type", "window_start", "1 hour")
    filled = forward_fill(dense, "event_type", "window_start", "max_value")
    return filled.select(
        "event_type",
        "window_start",
        F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
        F.col("max_value_filled"),
        F.when(F.col("n_obs").isNull(), 1).otherwise(0).alias("is_gap"),
    )


@query(
    "f_json_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
           max(CAST(props->>'$.k' AS INTEGER)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def f_json_extract(spark, sf_dir):
    """JSON column surface (SURVEY §1.2: JSON stays at connector edges,
    but ad-hoc extraction must work): parse the props JSON string with an
    explicit schema via from_json — typed, codegen-friendly, no
    per-access re-parse the way repeated get_json_object calls would —
    then aggregate the extracted field. Integer sums are exact on both
    engines."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", "k INT").alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("p.k").alias("sum_k"),
        F.max("p.k").alias("max_k"),
    )


@query(
    "tpcds_q3_brand_by_year",
    oracle="""
    WITH date_dim AS (
      SELECT CAST(d AS DATE) AS d_date,
             CAST(EXTRACT(YEAR FROM d) AS INTEGER) AS d_year,
             CAST(EXTRACT(MONTH FROM d) AS INTEGER) AS d_moy
      FROM (SELECT unnest(generate_series(DATE '1995-01-01',
                                          DATE '2001-08-01',
                                          INTERVAL 1 DAY)) AS d) t
    )
    SELECT dt.d_year, p.p_brand,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(14,2)))) AS DOUBLE)
             AS sum_agg
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN date_dim dt ON CAST(o.o_orderdate AS DATE) = dt.d_date
    WHERE dt.d_moy = 12 AND p.p_type = 'ECONOMY'
    GROUP BY dt.d_year, p.p_brand
    ORDER BY d_year, sum_agg DESC, p_brand
    """,
)
def tpcds_q3_brand_by_year(spark, sf_dir):
    """TPC-DS Q3 shape: the calendar-dimension star join — facts join a
    date_dim (synthesized deterministically as a day spine, since the
    testdata has no calendar table) and calendar predicates (December
    only) live on the DIM side, where they prune the broadcast hash table
    instead of rewriting fact-scan filters. The warehouse pattern that
    generalizes to fiscal calendars and holiday flags no column-function
    predicate can express."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit("1995-01-01")),
                F.to_date(F.lit("2001-08-01")),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d_date")
    )
    date_dim = spine.select(
        "d_date",
        F.year("d_date").alias("d_year"),
        F.month("d_date").alias("d_moy"),
    ).where(F.col("d_moy") == 12)
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        1 - F.col("l_discount").cast("decimal(14,2)")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(date_dim),
            F.to_date("o_orderdate") == F.col("d_date"),
        )
        .groupBy("d_year", "p_brand")
        .agg(F.sum(rev).cast("double").alias("sum_agg"))
        .orderBy("d_year", F.desc("sum_agg"), "p_brand")
    )


@query(
    "tpcds_q27_rollup_avgs",
    oracle="""
    SELECT p.p_brand, n.n_name,
           CAST(GROUPING(p.p_brand) AS INTEGER) AS g_brand,
           CAST(GROUPING(n.n_name) AS INTEGER)  AS g_nation,
           round(avg(l.l_quantity), 6)      AS agg1,
           round(avg(l.l_extendedprice), 6) AS agg2,
           round(avg(l.l_discount), 6)      AS agg3,
           round(avg(l.l_tax), 6)           AS agg4
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    WHERE EXTRACT(YEAR FROM o.o_orderdate) = 1996 AND p.p_size < 25
    GROUP BY ROLLUP(p.p_brand, n.n_name)
    """,
)
def tpcds_q27_rollup_avgs(spark, sf_dir):
    """TPC-DS Q27 shape: star join with selective dim predicates feeding
    four AVG measures under ROLLUP(item attr, geography) — per-brand,
    per-brand-per-nation, and grand-total rows in one pass. Spark plans
    ROLLUP as a single Expand + one shuffle (no per-level re-scan);
    GROUPING() flags disambiguate NULL-as-total from NULL-as-value.
    Dim filters (p_size, order year) sit on the broadcast sides so the
    fact scan is pruned before the Expand multiplies rows."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.year("o_orderdate") == 1996)
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").where(F.col("p_size") < 25)
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .rollup("p_brand", "n_name")
        .agg(
            F.grouping("p_brand").cast("int").alias("g_brand"),
            F.grouping("n_name").cast("int").alias("g_nation"),
            F.round(F.avg("l_quantity"), 6).alias("agg1"),
            F.round(F.avg("l_extendedprice"), 6).alias("agg2"),
            F.round(F.avg("l_discount"), 6).alias("agg3"),
            F.round(F.avg("l_tax"), 6).alias("agg4"),
        )
        .select(
            "p_brand", "n_name", "g_brand", "g_nation",
            "agg1", "agg2", "agg3", "agg4",
        )
    )


@query(
    "tpcds_q36_margin_rank",
    oracle="""
    WITH agg AS (
      SELECT p.p_type, p.p_brand,
             CAST(GROUPING(p.p_type) + GROUPING(p.p_brand) AS INTEGER)
               AS lochierarchy,
             CAST(GROUPING(p.p_brand) AS INTEGER) AS g_brand,
             round(
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(14,2)))) AS DOUBLE)
               / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))) AS DOUBLE),
               6) AS gross_margin
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_returnflag <> 'R'
      GROUP BY ROLLUP(p.p_type, p.p_brand)
    )
    SELECT p_type, p_brand, lochierarchy, gross_margin,
           CAST(rank() OVER (
             PARTITION BY lochierarchy,
                          CASE WHEN g_brand = 0 THEN p_type END
             ORDER BY gross_margin
           ) AS BIGINT) AS rank_within_parent
    FROM agg
    """,
)
def tpcds_q36_margin_rank(spark, sf_dir):
    """TPC-DS Q36 shape: gross-margin ratio under ROLLUP(category, class)
    with rank-within-parent — each hierarchy level ranked against its
    siblings via a window PARTITIONed on the GROUPING-derived level key.
    Both sums accumulate in DECIMAL (order-independent) before the one
    double division, so the ratio — and therefore the rank order — is
    bit-identical across engines. One shuffle for the rollup, one for
    the window; the window repartitions on the (small) agg output, not
    the fact table."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") != "R")
    p = _t(spark, sf_dir, "part")
    dec_rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        1 - F.col("l_discount").cast("decimal(14,2)")
    )
    dec_ext = F.col("l_extendedprice").cast("decimal(14,2)")
    agg = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .rollup("p_type", "p_brand")
        .agg(
            (F.grouping("p_type") + F.grouping("p_brand"))
            .cast("int")
            .alias("lochierarchy"),
            F.grouping("p_brand").cast("int").alias("g_brand"),
            F.round(
                F.sum(dec_rev).cast("double") / F.sum(dec_ext).cast("double"), 6
            ).alias("gross_margin"),
        )
    )
    w = Window.partitionBy(
        "lochierarchy",
        F.when(F.col("g_brand") == 0, F.col("p_type")),
    ).orderBy("gross_margin")
    return agg.select(
        "p_type",
        "p_brand",
        "lochierarchy",
        "gross_margin",
        F.rank().over(w).cast("bigint").alias("rank_within_parent"),
    )


@query(
    "tpcds_q67_topk_rollup",
    oracle="""
    WITH sales AS (
      SELECT p.p_type, p.p_brand,
             CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER)  AS d_year,
             CAST(EXTRACT(MONTH FROM o.o_orderdate) AS INTEGER) AS d_moy,
             CAST(l.l_extendedprice AS DECIMAL(14,2))
               * (1 - CAST(l.l_discount AS DECIMAL(14,2))) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p   ON l.l_partkey = p.p_partkey
    ),
    agg AS (
      SELECT p_type, p_brand, d_year, d_moy,
             CAST(sum(rev) AS DOUBLE) AS sumsales
      FROM sales
      GROUP BY ROLLUP(p_type, p_brand, d_year, d_moy)
    )
    SELECT * FROM (
      SELECT p_type, p_brand, d_year, d_moy, sumsales,
             CAST(rank() OVER (
               PARTITION BY p_type ORDER BY sumsales DESC
             ) AS BIGINT) AS rk
      FROM agg
    ) t
    WHERE rk <= 100
    """,
)
def tpcds_q67_topk_rollup(spark, sf_dir):
    """TPC-DS Q67 shape: a deep ROLLUP over (category, brand, year,
    month) then top-100-by-sales per category via a ranked window — the
    'best sellers at every hierarchy level' report. The rank ties are
    deterministic because the sums accumulate in DECIMAL. The expensive
    part is the 4-level Expand (5× row multiplication) — Spark does it
    map-side pre-shuffle with partial aggregation, so the shuffle carries
    aggregated groups, not multiplied raw rows."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part")
    dec_rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        1 - F.col("l_discount").cast("decimal(14,2)")
    )
    agg = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_type",
            "p_brand",
            F.year("o_orderdate").cast("int").alias("d_year"),
            F.month("o_orderdate").cast("int").alias("d_moy"),
            dec_rev.alias("rev"),
        )
        .rollup("p_type", "p_brand", "d_year", "d_moy")
        .agg(F.sum("rev").cast("double").alias("sumsales"))
    )
    w = Window.partitionBy("p_type").orderBy(F.desc("sumsales"))
    return (
        agg.select(
            "p_type",
            "p_brand",
            "d_year",
            "d_moy",
            "sumsales",
            F.rank().over(w).cast("bigint").alias("rk"),
        )
        .where(F.col("rk") <= 100)
    )


def _zorder_oracle() -> str:
    from delfos_etl_pipeline_spark.operators.zorder import sql_morton_key

    z = sql_morton_key(["o_custkey % 256", "o_orderkey % 256"], 8)
    return f"""
    SELECT o_orderkey, o_custkey % 256 AS code_a, o_orderkey % 256 AS code_b,
           {z} AS zorder_key
    FROM orders
    """


@query("layout_zorder_key", oracle=_zorder_oracle())
def layout_zorder_key(spark, sf_dir):
    """Morton (Z-order) clustering key: bit-interleave of two 8-bit codes
    (operators/zorder.py::morton_key — pure shiftleft/OR expression tree,
    whole-stage codegen) certified bit-exact against the same arithmetic
    in DuckDB. This key is what zorder_layout range-partitions on so each
    output file is a tight bounding BOX in (a, b) space and parquet
    min/max stats prune on EITHER filter column — the multi-predicate
    data-skipping layout (Delta OPTIMIZE ZORDER BY) for 100 TB scans.
    The query certifies the arithmetic; the skipping win itself is
    measured in tests/test_zorder.py (per-file bounding-box extents vs
    linear sort)."""
    from delfos_etl_pipeline_spark.operators.zorder import morton_key

    o = _t(spark, sf_dir, "orders")
    ca = (F.col("o_custkey") % 256).cast("long")
    cb = (F.col("o_orderkey") % 256).cast("long")
    return o.select(
        "o_orderkey",
        ca.alias("code_a"),
        cb.alias("code_b"),
        morton_key([F.col("o_custkey") % 256, F.col("o_orderkey") % 256], 8).alias(
            "zorder_key"
        ),
    )


@query(
    "skyline_orders",
    oracle="""
    WITH g AS (
      SELECT o_totalprice AS x, min(o_orderdate) AS ymin
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT x, ymin,
             min(ymin) OVER (
               ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mex
      FROM g
    )
    SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate
    FROM orders o
    JOIN s ON o.o_totalprice = s.x AND o.o_orderdate = s.ymin
    WHERE s.mex IS NULL OR s.ymin < s.mex
    """,
)
def skyline_orders(spark, sf_dir):
    """Skyline / Pareto frontier (Börzsönyi et al., ICDE'01): orders not
    dominated on (minimize o_totalprice, minimize o_orderdate) — the
    'cheapest-and-earliest' preference query no single ORDER BY can
    answer. Runs operators/skyline.py::skyline_min2, whose exclusive
    prefix min comes from operators/prefix.py::prefix_scan."""
    from delfos_etl_pipeline_spark.operators.skyline import skyline_min2

    orders = _t(spark, sf_dir, "orders")
    return skyline_min2(
        orders.select("o_orderkey", "o_totalprice", "o_orderdate"),
        "o_totalprice",
        "o_orderdate",
    )


@query(
    "o5_keyset_pagination",
    oracle="""
    WITH anchor AS (
      SELECT o_totalprice AS ap, o_orderkey AS ak
      FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC
      LIMIT 1 OFFSET 99
    )
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders, anchor
    WHERE o_totalprice < ap
       OR (o_totalprice = ap AND o_orderkey > ak)
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def o5_keyset_pagination(spark, sf_dir):
    """Keyset (seek-method) pagination: page N+1 starts strictly after
    the last seen (o_totalprice, o_orderkey) composite — the API-serving
    pattern the reference's paginated query endpoint needs at scale
    (api/app/main.py:80-164 pages with LIMIT/OFFSET; OFFSET k scans and
    discards k rows EVERY page, so deep pages cost O(pages²) total,
    while the seek predicate is pushable and each page is one
    TakeOrderedAndProject). The anchor here is computed in-query (the
    100th row) to keep the oracle self-contained; a real API passes it
    as a cursor token. The page fetch itself never sorts more than
    top-25 per partition (TakeOrderedAndProject), and the anchor
    predicate prunes row groups via parquet min/max on o_totalprice."""
    o = _t(spark, sf_dir, "orders")
    anchor = (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select(
            F.col("o_totalprice").alias("ap"), F.col("o_orderkey").alias("ak")
        )
        .offset(99)
        .limit(1)
    )
    return (
        o.crossJoin(F.broadcast(anchor))
        .where(
            (F.col("o_totalprice") < F.col("ap"))
            | (
                (F.col("o_totalprice") == F.col("ap"))
                & (F.col("o_orderkey") > F.col("ak"))
            )
        )
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


def _hilbert_oracle() -> str:
    from delfos_etl_pipeline_spark.operators.zorder import sql_hilbert_query

    return sql_hilbert_query(
        "(SELECT o_orderkey, o_custkey % 256 AS code_a,"
        " o_orderkey % 256 AS code_b FROM orders)",
        ["o_orderkey", "code_a", "code_b"],
        "code_a",
        "code_b",
        8,
    )


@query("layout_hilbert_key", oracle=_hilbert_oracle())
def layout_hilbert_key(spark, sf_dir):
    """Hilbert-curve clustering key over the same 8-bit code pair as
    layout_zorder_key — the stronger space-filling layout: unlike the
    Z-curve, consecutive Hilbert keys are always ADJACENT cells (no
    diagonal corner jumps), so range-partitioned files carry strictly
    tighter (a, b) bounding boxes at equal file counts and parquet
    min/max skipping prunes more files for box predicates (the reason
    Delta/Iceberg offer Hilbert alongside Z-order for OPTIMIZE).

    operators/zorder.py::with_hilbert_key unrolls the canonical xy2d
    quadrant-rotation recurrence into one shift/mask/CASE projection
    per step (codegen, no UDF, stateless per row — scan-bound at
    100 TB); the recurrence is property-tested against the canonical
    algorithm and the unit-step curve invariant in tests/test_zorder.py,
    and the oracle replays the identical bit arithmetic as a CTE chain,
    so the match is bit-exact."""
    from delfos_etl_pipeline_spark.operators.zorder import with_hilbert_key

    o = _t(spark, sf_dir, "orders")
    coded = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).cast("long").alias("code_a"),
        (F.col("o_orderkey") % 256).cast("long").alias("code_b"),
    )
    return with_hilbert_key(coded, F.col("code_a"), F.col("code_b"), 8)
