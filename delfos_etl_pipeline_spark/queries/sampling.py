"""Deterministic hash-based sampling: bernoulli, stratified, train/test split (SURVEY §7 M5).

Split from the monolithic queries.py registry (round 4); behavior
unchanged — importing this module registers its queries.
"""

from __future__ import annotations


from pyspark.sql import Window
from pyspark.sql import functions as F

from delfos_etl_pipeline_spark.queries._registry import _t, query

# ---------------------------------------------------------------------------
# Sampling — deterministic hash-based corpus subsetting (SURVEY §7 M5)
# ---------------------------------------------------------------------------

#: DuckDB twin of operators/sampling.hash_bucket.
_BUCKET_SQL = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " % 1000"
)


@query(
    "sample_bernoulli",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {_BUCKET_SQL} < 100
    """,
)
def sample_bernoulli(spark, sf_dir):
    """Deterministic 10% Bernoulli sample keyed on doc_id — a pure
    function of the data (md5 bucket), so the same rows are selected on
    any engine, partitioning, or cluster size; seeded df.sample() is not
    (Spark draws per-partition). Scan-bound, no shuffle
    (operators/sampling.py)."""
    from delfos_etl_pipeline_spark.operators.sampling import bernoulli_sample

    docs = _t(spark, sf_dir, "documents")
    return bernoulli_sample(docs, "doc_id", 0.10).select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_BUCKET_SQL} < CASE lang
        WHEN 'en' THEN 100 WHEN 'de' THEN 500 WHEN 'es' THEN 500
        WHEN 'fr' THEN 500 WHEN 'zh' THEN 500 ELSE 0 END
    """,
)
def sample_stratified(spark, sf_dir):
    """Stratified rates per language — rebalance an English-dominant
    corpus (10% en, 50% tail languages) in ONE scan with no shuffle: the
    stratum picks the threshold the key bucket compares against."""
    from delfos_etl_pipeline_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs,
        "doc_id",
        "lang",
        {"en": 0.10, "de": 0.50, "es": 0.50, "fr": 0.50, "zh": 0.50},
    ).select("doc_id", "lang")


@query(
    "sample_train_test_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {_BUCKET_SQL} < 50 THEN 'test' ELSE 'train' END AS split
    FROM documents
    """,
)
def sample_train_test_split(spark, sf_dir):
    """Leakage-safe 95/5 train/test labeling: membership is a pure
    function of doc_id, so a document can never migrate between splits as
    the corpus grows or the job repartitions."""
    from delfos_etl_pipeline_spark.operators.sampling import train_test_split

    docs = _t(spark, sf_dir, "documents")
    return train_test_split(docs, "doc_id", 0.05).select("doc_id", "split")


@query(
    "sample_neyman_allocation",
    oracle="""
    WITH st AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS nh,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(sum(CAST(floor(value * value * 1000000000000.0 + 0.5)
                           / 1000000000000.0 AS DECIMAL(30,12))) AS DOUBLE)
               AS s2
      FROM events GROUP BY event_type
    ), p AS (
      SELECT event_type, nh,
             floor(nh * sqrt(greatest(s2 / nh - (s1 / nh) * (s1 / nh), 0))
                   * 1000000000000.0 + 0.5) / 1000000000000.0 AS whr
      FROM st
    ), tw AS (
      SELECT CAST(sum(CAST(whr AS DECIMAL(26,12))) AS DOUBLE) AS tw,
             CAST(sum(nh) AS BIGINT) AS n
      FROM p
    ), alloc AS (
      SELECT p.event_type,
             CAST(floor(floor(0.1 * tw.n + 0.5) * p.whr / tw.tw + 0.5)
                  AS BIGINT) AS n_take
      FROM p, tw
    ), r AS (
      SELECT event_id, event_type,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
      FROM events
    )
    SELECT r.event_id, r.event_type, a.n_take
    FROM r JOIN alloc a USING (event_type)
    WHERE r.rk <= a.n_take
    """,
)
def sample_neyman_allocation(spark, sf_dir):
    """Variance-optimal stratified sampling (Neyman 1934): a 10% overall
    budget allocated across event-type strata proportionally to
    N_h·sigma_h — high-variance strata get proportionally more rows,
    minimizing the estimator variance for a fixed budget (what uniform
    or proportional allocation can't). The missing tier above
    sample_stratified's fixed per-stratum rates.

    Plan: one scan for the decimal sufficient statistics (|strata|
    rows), allocation arithmetic on the broadcast stats (sigma via the
    corr-matrix exactness contract; the stratum weights round to 12 dp
    into DECIMAL before the cross-strata sum so the total is
    order-independent), then one deterministic rank per stratum over
    the md5 key order — the same pure-function-of-the-data selection
    contract as the other samplers, so reruns and retries pick
    identical rows."""
    from pyspark.sql import Window

    from delfos_etl_pipeline_spark.functions.stable import round_half_up

    ev = _t(spark, sf_dir, "events")
    st = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nh"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s1"),
        F.sum(
            round_half_up(F.col("value") * F.col("value"), 12).cast(
                "decimal(30,12)"
            )
        )
        .cast("double")
        .alias("s2"),
    )
    p = st.select(
        "event_type",
        "nh",
        round_half_up(
            F.col("nh")
            * F.sqrt(
                F.greatest(
                    F.col("s2") / F.col("nh")
                    - (F.col("s1") / F.col("nh")) * (F.col("s1") / F.col("nh")),
                    F.lit(0.0),
                )
            ),
            12,
        ).alias("whr"),
    )
    tw = p.agg(
        F.sum(F.col("whr").cast("decimal(26,12)")).cast("double").alias("tw"),
        F.sum("nh").cast("bigint").alias("n"),
    )
    alloc = (
        p.crossJoin(F.broadcast(tw))
        .select(
            "event_type",
            F.floor(
                F.floor(0.1 * F.col("n") + 0.5) * F.col("whr") / F.col("tw")
                + 0.5
            )
            .cast("bigint")
            .alias("n_take"),
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    r = ev.select(
        "event_id", "event_type", F.row_number().over(w).alias("rk")
    )
    return (
        r.join(F.broadcast(alloc), "event_type")
        .where(F.col("rk") <= F.col("n_take"))
        .select("event_id", "event_type", "n_take")
    )


@query(
    "sample_class_balance",
    oracle="""
    WITH k AS (
      SELECT min(c) AS kk FROM (
        SELECT count(*) AS c FROM embeddings GROUP BY label
      )
    ),
    r AS (
      SELECT vec_id, label,
             row_number() OVER (
               PARTITION BY label
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
      FROM embeddings
    )
    SELECT vec_id, label FROM r, k WHERE rn <= kk
    """,
)
def sample_class_balance(spark, sf_dir):
    """Class-balanced downsampling: every label keeps exactly
    min-class-count rows, selected by md5-of-id order — the deterministic
    stand-in for a seeded shuffle that both engines reproduce bit-for-bit
    (the repo's hash-sampling contract; vec_id tiebreak makes the order
    total). This is the label-skew equalizer that precedes classifier
    fine-tuning; unlike fraction-based stratified sampling
    (sample_stratified), the quota is exact per class, not expected.
    100 TB: one |labels|-row broadcast for the quota, one label-keyed
    window — rank-then-filter, no collect; md5 ordering spreads any
    per-label hot spot across the sort, and the window partitions by the
    stratification key so parallelism is |labels|-wide (fine: balancing
    presumes per-class data fits a worker's sort spill)."""
    emb = _t(spark, sf_dir, "embeddings")
    k = emb.groupBy("label").agg(F.count(F.lit(1)).alias("c")).agg(
        F.min("c").alias("kk")
    )
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        emb.select("vec_id", "label", F.row_number().over(w).alias("rn"))
        .crossJoin(F.broadcast(k))
        .where(F.col("rn") <= F.col("kk"))
        .select("vec_id", "label")
    )


@query(
    "sample_systematic",
    oracle="""
    WITH r AS (
      SELECT event_id, ts, user_id, event_type, value,
             CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS rn
      FROM events
    )
    SELECT event_id, ts, user_id, event_type, value, rn
    FROM r WHERE (rn - 1) % 20 = 0
    """,
)
def sample_systematic(spark, sf_dir):
    """Systematic (every k-th, k=20) sample in global (ts, event_id)
    order — the audit/QA draw that guarantees even coverage of the
    whole time range where a Bernoulli draw (sample_bernoulli) can
    cluster by chance; rows keep their global rank so an auditor can
    reconstruct exactly which stratum of the stream each one represents.

    The rank comes from operators/rank.py::distributed_rank, not a
    row_number() with no PARTITION BY."""
    from delfos_etl_pipeline_spark.operators.rank import distributed_rank

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ranked = distributed_rank(ev, order_cols=("ts", "event_id"))
    return ranked.where((F.col("rn") - 1) % 20 == 0).select(
        "event_id", "ts", "user_id", "event_type", "value", "rn"
    )


@query(
    "sample_domain_cap",
    oracle="""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (rn <= 15) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (rn > 15) AS BIGINT) AS n_dropped,
           CAST(coalesce(sum(n_chars) FILTER (rn <= 15), 0) AS BIGINT)
             AS kept_chars
    FROM r GROUP BY source
    """,
)
def sample_domain_cap(spark, sf_dir):
    """Per-domain document cap (FineWeb/C4-style): keep at most 15 docs
    per source, chosen by md5(doc_id) hash order — a pure function of
    the data, so the SAME docs survive on any engine, partitioning, or
    cluster size, and re-running after an append keeps prior survivors
    stable up to the cap. The cap is the standard anti-domination guard
    a web-scale corpus applies before training: without it a handful of
    template-heavy domains (forums, listings) dominate the token
    budget.

    Scale posture: the rank window partitions by source — at 100 TB the
    domain key has ~1e7-1e8 cardinality, so per-key task skew is
    bounded by the largest single domain, not by corpus size; a domain
    so large it skews a task is exactly what the cap discards, and AQE
    skew-split handles the scan side. One hash shuffle on source; no
    global sort, no driver state."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    kept = F.col("rn") <= 15
    return (
        docs.select("doc_id", "source", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(kept.cast("bigint")).cast("bigint").alias("n_kept"),
            F.sum((~kept).cast("bigint")).cast("bigint").alias("n_dropped"),
            F.coalesce(
                F.sum(F.when(kept, F.col("n_chars"))), F.lit(0)
            ).cast("bigint").alias("kept_chars"),
        )
    )


@query(
    "sample_domain_temperature",
    oracle="""
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY source
    ),
    w AS (
      SELECT source, n_docs,
             CAST(floor(sqrt(n_docs) * 1000000.0 + 0.5) AS BIGINT) AS weight
      FROM c
    ),
    t AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM w)
    SELECT source, n_docs, weight,
           CAST((1000 * weight) // wsum AS BIGINT) AS target_docs,
           CAST(least((1000 * weight) // wsum, n_docs) AS BIGINT)
             AS target_kept,
           CAST(floor(least((1000 * weight) // wsum, n_docs) * 1000000.0
                      / n_docs + 0.5) AS BIGINT) AS keep_rate_ppm
    FROM w, t
    """,
)
def sample_domain_temperature(spark, sf_dir):
    """Temperature-scaled domain allocation (alpha = 0.5, the
    mBERT/XLM-R multilingual sampling rule applied to sources): target
    doc counts proportional to n_i^alpha, flattening the head so small
    domains are not drowned — the companion to sample_domain_cap's hard
    ceiling. Weights are pinned to integer micro-units via
    floor(sqrt(n)*1e6+0.5): IEEE-754 sqrt is CORRECTLY ROUNDED (unlike
    ln/exp), so the weight — hence every allocation — is bit-identical
    cross-engine with no driver-side libm pinning needed. Allocation is
    integer arithmetic throughout (budget*w DIV sum, capped at n_i),
    and the effective keep rate ships in exact ppm.

    Scale posture: ONE metadata-only count pass (no text read), the
    per-domain table persisted once for its two consumers (weight sum +
    allocation projection), the 1-row total broadcast back. At 1e8
    domains the only shuffle is the count's hash exchange."""
    docs = _t(spark, sf_dir, "documents")
    w = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .withColumn(
            "weight",
            F.floor(F.sqrt(F.col("n_docs")) * F.lit(1000000.0) + F.lit(0.5))
            .cast("bigint"),
        )
        .persist()
    )
    tot = w.agg(F.sum("weight").cast("bigint").alias("wsum"))
    target = F.expr("(1000 * weight) DIV wsum")
    kept = F.least(target, F.col("n_docs"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "weight",
            target.cast("bigint").alias("target_docs"),
            kept.cast("bigint").alias("target_kept"),
            F.floor(kept * F.lit(1000000.0) / F.col("n_docs") + F.lit(0.5))
            .cast("bigint")
            .alias("keep_rate_ppm"),
        )
    )
