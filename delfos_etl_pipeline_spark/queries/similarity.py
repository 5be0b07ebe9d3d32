"""Similarity search: brute-force / all-pairs / LSH-bucketed kNN and the IVF build/probe index (SURVEY §7 M5).

Split from the monolithic queries.py registry (round 4); behavior
unchanged — importing this module registers its queries.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from delfos_etl_pipeline_spark.functions.stable import round_half_up
from delfos_etl_pipeline_spark.queries._registry import _t, query, spread_scan

# ---------------------------------------------------------------------------
# Similarity search (SURVEY §7 M5)
# ---------------------------------------------------------------------------


@query(
    "sim_knn_bruteforce",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(
             list_dot_product(e.embedding::DOUBLE[], q.qv) /
             (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_knn_bruteforce(spark, sf_dir):
    """Exact cosine top-10 vs a fixed query vector (vec_id=0) — one scan,
    expression-level dot products, TakeOrderedAndProject top-k."""
    from delfos_etl_pipeline_spark.similarity.knn import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return brute_force_topk(
        emb.where(F.col("vec_id") != 0), qvec, "vec_id", "embedding", k=10
    )


@query(
    "sim_knn_allpairs",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine_sim,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY list_dot_product(a.e, b.e) / (a.nrm * b.nrm) DESC, b.vec_id
           ) AS rank
    FROM n a JOIN n b ON a.vec_id <> b.vec_id
    QUALIFY rank <= 5
    """,
)
def sim_knn_allpairs(spark, sf_dir):
    """Exact 5-NN for every vector — broadcast reference matrix + Arrow
    batches + one BLAS matmul per batch (similarity/knn.py
    all_pairs_topk_blas); ~10× the interpreted-expression N² plan."""
    from delfos_etl_pipeline_spark.similarity.knn import all_pairs_topk_blas

    emb = _t(spark, sf_dir, "embeddings")
    out = all_pairs_topk_blas(emb, "vec_id", "embedding", k=5)
    # BIGINT rank: the Arrow batch emits int32, the oracle's row_number()
    # is BIGINT, and the driver compares dtype width.
    return out.withColumn("rank", F.col("rank").cast("long"))


def _lsh_oracle_sql(n_planes: int = 4, dim: int = 64) -> str:
    """SQL twin of knn.lsh_bucketed_topk: the hyperplanes are deterministic
    (seeded integer mix), so the bucket assignment — and therefore the
    approximate result — is exactly reproducible in the oracle. The plane
    vectors are inlined as literals; the query vector's bucket is computed
    in-SQL from the vec_id=0 row with the same expression."""
    from delfos_etl_pipeline_spark.similarity.knn import _hyperplane

    planes = _hyperplane(n_planes, dim)
    bucket_terms = " + ".join(
        f"{1 << i} * (CASE WHEN list_dot_product(e, {plane}) > 0 THEN 1 ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    b AS (SELECT vec_id, e, {bucket_terms} AS bucket FROM v),
    q AS (SELECT e AS qe, bucket AS qbucket FROM b WHERE vec_id = 0)
    SELECT b.vec_id,
           round(list_dot_product(b.e, q.qe) /
                 (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(q.qe, q.qe))),
                 6) AS cosine_sim
    FROM b, q
    WHERE b.vec_id <> 0 AND b.bucket = q.qbucket
    ORDER BY cosine_sim DESC, b.vec_id
    LIMIT 10
    """


@query("sim_lsh_bucketed", oracle=_lsh_oracle_sql())
def sim_lsh_bucketed(spark, sf_dir):
    """Random-hyperplane LSH-bucketed ANN top-10 for the vec_id=0 query —
    scans one of 256 buckets instead of the corpus."""
    from delfos_etl_pipeline_spark.similarity.knn import lsh_bucketed_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    # 4 planes → 16 buckets: sized so a 500-vector corpus keeps ~30
    # candidates per bucket; at corpus scale raise n_planes to keep the
    # per-bucket candidate count roughly constant.
    return lsh_bucketed_topk(
        emb.where(F.col("vec_id") != 0), qvec, "vec_id", "embedding", k=10, n_planes=4
    )


# Shared by sim_ivf_topk (in-memory assignment) and sim_ivf_probe
# (persisted partitionBy(cluster) index): the probe result over a restored
# index is bit-identical to probing the freshly-assigned corpus, so both
# certify against the same from-scratch SQL replay.
_IVF_TOPK_ORACLE = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    cent AS (
      SELECT vec_id AS cid, e AS ce FROM v
      WHERE vec_id <> 0 ORDER BY vec_id LIMIT 8
    ),
    scored AS (
      SELECT v.vec_id, v.e, c.cid,
             list_dot_product(v.e, c.ce) /
               (sqrt(list_dot_product(v.e, v.e)) *
                sqrt(list_dot_product(c.ce, c.ce))) AS sim
      FROM v JOIN cent c ON true
      WHERE v.vec_id <> 0
    ),
    assign AS (
      SELECT vec_id, e, cid AS cluster FROM scored
      QUALIFY row_number() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, cid) = 1
    ),
    probe AS (
      SELECT c.cid FROM cent c, q
      ORDER BY list_dot_product(c.ce, q.qe) /
               (sqrt(list_dot_product(c.ce, c.ce)) *
                sqrt(list_dot_product(q.qe, q.qe))) DESC, c.cid
      LIMIT 2
    )
    SELECT a.vec_id,
           round(list_dot_product(a.e, q.qe) /
                 (sqrt(list_dot_product(a.e, a.e)) *
                  sqrt(list_dot_product(q.qe, q.qe))), 6) AS cosine_sim
    FROM assign a, q
    WHERE a.cluster IN (SELECT cid FROM probe)
    ORDER BY cosine_sim DESC, a.vec_id
    LIMIT 10
    """


@query("sim_ivf_topk", oracle=_IVF_TOPK_ORACLE)
def sim_ivf_topk(spark, sf_dir):
    """IVF ANN top-10 for the vec_id=0 query: coarse quantizer (8 cells),
    probe the 2 nearest cells, exact cosine inside them (similarity/
    ivf.py). Registered with the DETERMINISTIC build (centroids = the 8
    lowest corpus ids, one argmax-cosine assignment step) so cell
    membership — and therefore the ANN result — is reproduced exactly by
    the oracle; build_ivf_index (seeded k-means) is the quantizer-quality
    path with the identical probe plan. With the index persisted
    partitionBy(cluster), each probe is a partition-pruned scan of
    n_probe/n_clusters of the corpus — build-once/search-many."""
    from delfos_etl_pipeline_spark.similarity.ivf import (
        build_ivf_index_fixed,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    assigned, centroids = build_ivf_index_fixed(
        emb.where(F.col("vec_id") != 0), "vec_id", "embedding", n_clusters=8
    )
    return ivf_topk(assigned, centroids, qvec, "vec_id", "embedding", k=10, n_probe=2)


@query("sim_ivf_topk_prod")
def sim_ivf_topk_prod(spark, sf_dir):
    """sim_ivf_topk with the PRODUCTION quantizer (seeded k-means via
    pyspark.ml, better cell balance than the fixed-centroid oracle build) —
    registered so the benched path has its own correctness row. K-means
    cell boundaries aren't reproducible in SQL, so rows-only; the probe
    plan (partition-pruned cells + exact cosine + top-k) is identical to
    the exact-oracled sim_ivf_topk."""
    from delfos_etl_pipeline_spark.similarity.ivf import build_ivf_index, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    assigned, centroids = build_ivf_index(
        emb.where(F.col("vec_id") != 0), "vec_id", "embedding", n_clusters=8
    )
    return ivf_topk(assigned, centroids, qvec, "vec_id", "embedding", k=10, n_probe=2)


@query(
    "sim_ivf_build",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (
      SELECT vec_id AS cid, e AS ce FROM v
      WHERE vec_id <> 0 ORDER BY vec_id LIMIT 8
    ),
    m AS (
      SELECT cid, CAST(row_number() OVER (ORDER BY cid) - 1 AS BIGINT)
               AS cluster
      FROM cent
    ),
    scored AS (
      SELECT v.vec_id, c.cid,
             list_dot_product(v.e, c.ce) /
               (sqrt(list_dot_product(v.e, v.e)) *
                sqrt(list_dot_product(c.ce, c.ce))) AS sim
      FROM v JOIN cent c ON true
      WHERE v.vec_id <> 0
    ),
    assign AS (
      SELECT vec_id, cid FROM scored
      QUALIFY row_number() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, cid) = 1
    )
    SELECT a.vec_id, m.cluster
    FROM assign a JOIN m ON m.cid = a.cid
    """,
)
def sim_ivf_build(spark, sf_dir):
    """IVF index BUILD phase as its own certified query (VERDICT r8
    item 4 — this name is benched, so it needs a correctness row the
    validator can re-time): the deterministic fixed quantizer's
    full-corpus cell assignment, one argmax-cosine projection per row
    with the INLINED codegen-visible cosine copies (one-shot plan
    construction, fastest execution — similarity/ivf.py
    assign_fixed_centroids inline=True). Output is the complete
    (vec_id, cluster) assignment — exactly the relation
    write_ivf_index persists partitionBy(cluster). The k-means-fit
    training cost is measured separately by emb_kmeans_train; the
    seeded-k-means assignment path keeps its own row via
    sim_ivf_topk_prod. At 100 TB this is the amortized build-once
    pass: linear, zero shuffles, centroids broadcast as literals."""
    from delfos_etl_pipeline_spark.similarity.ivf import build_ivf_index_fixed

    emb = _t(spark, sf_dir, "embeddings")
    assigned, _ = build_ivf_index_fixed(
        emb.where(F.col("vec_id") != 0), "vec_id", "embedding", n_clusters=8
    )
    return assigned.select(
        "vec_id", F.col("cluster").cast("long").alias("cluster")
    )


# Shared by sim_ivf_build_bigk (one-shot full-corpus assignment) and
# sim_ivf_lifecycle_bigk (the same effective assignment reached through a
# build -> merge -> remove -> compact -> re-merge history): assignment
# against FROZEN centroids is a deterministic per-row function of
# (vector, centroids) and parquet round-trips doubles/longs bit-exactly,
# so both certify against the same from-scratch argmax-cosine replay.
_IVF_BUILD_BIGK_ORACLE = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (
      SELECT vec_id AS cid, e AS ce FROM v
      WHERE vec_id <> 0 ORDER BY vec_id LIMIT 40
    ),
    m AS (
      SELECT cid, CAST(row_number() OVER (ORDER BY cid) - 1 AS BIGINT)
               AS cluster
      FROM cent
    ),
    scored AS (
      SELECT v.vec_id, c.cid,
             list_dot_product(v.e, c.ce) /
               (sqrt(list_dot_product(v.e, v.e)) *
                sqrt(list_dot_product(c.ce, c.ce))) AS sim
      FROM v JOIN cent c ON true
      WHERE v.vec_id <> 0
    ),
    assign AS (
      SELECT vec_id, cid FROM scored
      QUALIFY row_number() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, cid) = 1
    )
    SELECT a.vec_id, m.cluster
    FROM assign a JOIN m ON m.cid = a.cid
    """


@query("sim_ivf_build_bigk", oracle=_IVF_BUILD_BIGK_ORACLE)
def sim_ivf_build_bigk(spark, sf_dir):
    """The LARGE-K build (VERDICT r13 item 4, under the driver's hash
    gate — the pytest pins engine equality, this pins the engine against
    an independent SQL replay): identical to sim_ivf_build but with 40
    quantizer cells, which crosses assign_fixed_centroids'
    _INLINE_MAX_CELLS threshold and routes the full-corpus assignment
    through the Arrow-batched matmul engine (similarity/ivf.py
    _assign_matmul) instead of inlined codegen cosines. The oracle is
    the same deterministic argmax-cosine replay with LIMIT 40, so a
    hash match certifies the matmul engine's sequential-fold doubles
    and first-max tie-break bit-for-bit against DuckDB. At 100 TB this
    is the production build shape — thousands of cells make expression
    plans grow linearly in k before a row is read, while this plan is
    constant-size with the k×d centroid matrix riding the Arrow
    workers (SCALE.md round 14: merge_ivf's decade ratio 4.22 → 1.17
    on this engine)."""
    from delfos_etl_pipeline_spark.similarity.ivf import (
        _INLINE_MAX_CELLS,
        build_ivf_index_fixed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    k = 40
    assert k > _INLINE_MAX_CELLS  # the whole point: the matmul route
    assigned, _ = build_ivf_index_fixed(
        emb.where(F.col("vec_id") != 0), "vec_id", "embedding",
        n_clusters=k,
    )
    return assigned.select(
        "vec_id", F.col("cluster").cast("long").alias("cluster")
    )


#: sim_ivf_probe's persisted index, one per (process, sf_dir) — the
#: build-once/search-many contract: repeat invocations (bench iterations)
#: time ONLY the partition-pruned probe.
_IVF_FIXED_INDEX: dict = {}


@query("sim_ivf_probe", oracle=_IVF_TOPK_ORACLE)
def sim_ivf_probe(spark, sf_dir):
    """IVF PROBE phase against a PERSISTED index (VERDICT r8 item 4):
    the fixed-quantizer corpus is written partitionBy(cluster) ONCE per
    (process, corpus) via write_ivf_index, and every invocation reads it
    back and runs top-k inside the 2 nearest cells — a partition-pruned
    scan of n_probe/n_clusters of the data, the steady-state serving
    number at 100 TB. Shares sim_ivf_topk's exact oracle: the hash match
    certifies that materialize -> restore -> probe is bit-identical to
    probing the freshly-assigned corpus (the dedup_substring_incremental
    persisted-index pattern)."""
    import atexit
    import os
    import shutil
    import tempfile

    from delfos_etl_pipeline_spark.similarity.ivf import (
        build_ivf_index_fixed,
        ivf_topk,
        write_ivf_index,
    )

    state = _IVF_FIXED_INDEX.get(sf_dir)
    if state is None:
        emb = _t(spark, sf_dir, "embeddings")
        qvec = [
            float(x)
            for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
        ]
        assigned, cents = build_ivf_index_fixed(
            emb.where(F.col("vec_id") != 0), "vec_id", "embedding", n_clusters=8
        )
        workdir = tempfile.mkdtemp(prefix="ivf_index_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        path = os.path.join(workdir, "index")
        write_ivf_index(assigned, path)
        state = (path, cents, qvec)
        _IVF_FIXED_INDEX[sf_dir] = state
    path, cents, qvec = state
    idx = spark.read.parquet(path)
    return ivf_topk(idx, cents, qvec, "vec_id", "embedding", k=10, n_probe=2)


#: sim_ivf_lifecycle_bigk's maintained 40-cell index, one per
#: (process, sf_dir).
_IVF_BIGK_LIFECYCLE_STATE: dict = {}


@query("sim_ivf_lifecycle_bigk", oracle=_IVF_BUILD_BIGK_ORACLE)
def sim_ivf_lifecycle_bigk(spark, sf_dir):
    """Certified LARGE-K index maintenance (VERDICT r14 item 3 — the
    matmul engines were hash-certified for one-shot build/encode by
    sim_ivf_build_bigk / sim_pq_adc_bigk; the claim that the
    MAINTENANCE lifecycle holds at production k rested on the un-gated
    tools/scale_decade.py run): a 40-cell IVF index — above
    _INLINE_MAX_CELLS, so EVERY assignment in this history routes
    through the Arrow matmul engine (similarity/ivf.py _assign_matmul)
    — lives through build -> merge -> remove -> compact -> re-merge:

    - night 0: centroids frozen from the FULL corpus (the 40 lowest
      ids — the build-time quantizer-freeze discipline), the standing
      third (vec_id % 3 == 1) assigned and written partitionBy(cluster);
    - night 1: the second third plus the to-be-removed third arrives as
      an accepted batch — assigned against the frozen centroids (matmul
      route) and appended via merge_into_ivf_index (O(batch), marker
      idempotence);
    - takedown: the % 3 == 0 third is tombstoned out
      (remove_from_ivf_index — manifest-sized append);
    - weekend: compact_ivf_index physically rewrites the 40 cell
      partitions (tombstoned rows dropped, fragmentation collapsed,
      tombstones retired through the staged-swap protocol);
    - night 2: the removed third is RE-ADDED through the post-compaction
      merge (legal exactly because compaction retired the tombstones —
      the guard_tombstone_readd contract), matmul-assigned again.

    The final effective corpus is the full corpus, so the oracle is
    sim_ivf_build_bigk's from-scratch LIMIT-40 argmax-cosine replay
    VERBATIM: one driver hash pins
    merged+removed+compacted+re-merged ≡ built-from-scratch at the
    production-k engine routing (the day-3/day-4 oracle-sharing
    pattern, queries/curation.py). At 100 TB this is the steady-state
    shape: nightly merges stay O(batch) at thousands of cells
    (SCALE.md round 14: merge_ivf decade ratio 4.22 -> 1.17 on this
    engine), takedowns are manifest appends, and the weekend compaction
    is the only O(corpus) pass."""
    import atexit
    import os
    import shutil
    import tempfile

    from delfos_etl_pipeline_spark.similarity.ivf import (
        _INLINE_MAX_CELLS,
        assign_fixed_centroids,
        compact_ivf_index,
        merge_into_ivf_index,
        read_ivf_index,
        remove_from_ivf_index,
        write_ivf_index,
    )

    state = _IVF_BIGK_LIFECYCLE_STATE.get(sf_dir)
    if state is None:
        emb = _t(spark, sf_dir, "embeddings")
        corpus = emb.where(F.col("vec_id") != 0)
        k = 40
        assert k > _INLINE_MAX_CELLS  # every assignment: matmul route
        # frozen quantizer: the k lowest ids of the FULL corpus — the
        # same centroids every later batch is assigned against
        ids = [
            r[0]
            for r in corpus.select("vec_id").orderBy("vec_id").limit(k).collect()
        ]
        rows = corpus.where(F.col("vec_id").isin(ids)).select(
            "vec_id", "embedding"
        ).collect()
        cents = [
            [float(x) for x in r[1]] for r in sorted(rows, key=lambda r: r[0])
        ]

        def assigned(part):
            return assign_fixed_centroids(part, cents, "embedding")

        standing = corpus.where(F.col("vec_id") % 3 == 1)
        batch1 = corpus.where(F.col("vec_id") % 3 == 2)
        churn = corpus.where(F.col("vec_id") % 3 == 0)
        workdir = tempfile.mkdtemp(prefix="ivf_bigk_life_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        path = os.path.join(workdir, "index")
        write_ivf_index(assigned(standing), path)
        merge_into_ivf_index(
            assigned(batch1.unionByName(churn)), path, batch_id="night1"
        )
        remove_from_ivf_index(churn.select("vec_id"), path)
        compact_ivf_index(spark, path)
        merge_into_ivf_index(assigned(churn), path, batch_id="night2")
        _IVF_BIGK_LIFECYCLE_STATE[sf_dir] = path
        state = path
    return read_ivf_index(spark, state).select(
        "vec_id", F.col("cluster").cast("long").alias("cluster")
    )


@query(
    "emb_centroid_by_label",
    oracle="""
    WITH t AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS dim_idx,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
                  / 1000000.0 AS DECIMAL(18,6)) AS x
      FROM embeddings
    )
    SELECT label, dim_idx, CAST(count(*) AS BIGINT) AS n,
           floor((CAST(sum(x) AS DOUBLE) / count(*)) * 1000000.0 + 0.5)
             / 1000000.0 AS centroid
    FROM t GROUP BY label, dim_idx
    """,
)
def emb_centroid_by_label(spark, sf_dir):
    """Per-class embedding centroid (the class-prototype / k-means-step
    primitive) with the SCALABLE aggregation shape: one sum aggregate per
    dimension (64 map-side partial sums, one shuffle of 64 numbers per
    label) instead of posexplode-then-group, which would shuffle
    rows×dims exploded records. The one-row-per-label result then
    explodes to (label, dim_idx) long form only AFTER aggregation —
    |labels|×dims rows, trivially small. Cross-engine exactness: each
    float element rounds half-up to 6 decimals as a double (identical
    IEEE value both engines) and is cast to DECIMAL(18,6) before the
    order-independent exact sum — the float→decimal cast never touches
    the raw float (Spark's shortest-string vs DuckDB's scaled-rounding
    cast semantics differ; rounding first makes both land on the same
    decimal)."""
    dims = 64
    emb = _t(spark, sf_dir, "embeddings")
    # the 64 pinned decimal sums are built as SQL-parsed expressions
    # (round 15, the emb_standardize precedent: one py4j call each
    # instead of ~7 — Column construction, not Catalyst or execution,
    # dominated this name's cost); same trees, same plan, same sums
    sums = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.expr(
                f"sum(cast(floor(cast(element_at(embedding, {i + 1}) as"
                " double) * 1000000.0D + 0.5D) / 1000000.0D"
                " as decimal(18,6)))"
            ).alias(f"s{i}")
            for i in range(dims)
        ],
    )
    n = F.col("n")
    return sums.select(
        "label",
        "n",
        F.posexplode(
            F.expr("array(" + ",".join(f"s{i}" for i in range(dims)) + ")")
        ).alias("dim_idx", "s"),
    ).select(
        "label",
        F.col("dim_idx").cast("long").alias("dim_idx"),
        "n",
        (F.floor((F.col("s").cast("double") / n) * 1000000.0 + 0.5) / 1000000.0).alias(
            "centroid"
        ),
    )


@query(
    "emb_standardize",
    oracle="""
    WITH r AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) - 1 AS dim_idx,
             floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
               / 1000000.0 AS xd
      FROM embeddings
    ),
    d AS (
      SELECT vec_id, label, dim_idx, xd,
             CAST(xd AS DECIMAL(18,6)) AS x1,
             CAST(floor(xd * xd * 1000000000000.0 + 0.5)
                  / 1000000000000.0 AS DECIMAL(30,12)) AS x2
      FROM r
    ),
    stats AS (
      SELECT dim_idx,
             CAST(sum(x1) AS DOUBLE) / count(*) AS mu,
             CAST(sum(x2) AS DOUBLE) / count(*) AS ex2
      FROM d GROUP BY dim_idx
    ),
    sig AS (
      SELECT dim_idx, mu,
             CASE WHEN ex2 - mu * mu <= 0 THEN 0.0
                  ELSE sqrt(ex2 - mu * mu) END AS sigma
      FROM stats
    )
    SELECT d.vec_id, d.label,
           string_agg(
             CAST(CAST(floor((CASE WHEN sigma = 0 THEN 0.0
                                   ELSE (xd - mu) / sigma END)
                             * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR),
             ',' ORDER BY dim_idx) AS z_ppm
    FROM d JOIN sig USING (dim_idx)
    GROUP BY d.vec_id, d.label
    """,
)
def emb_standardize(spark, sf_dir):
    """Per-dimension z-score standardization of the embedding column —
    the feature-scaling pass that precedes ANN indexing, PCA, or k-means
    when dimensions carry different scales (unscaled dims dominate every
    distance computation).

    Scale shape (the emb_centroid_by_label pattern, corpus-wide): ONE
    aggregation pass computes 64 exact decimal sums + 64 exact decimal
    sums-of-squares as flat aggregates over `element_at` — 129 numbers
    total shuffled, map-side combined, with NO posexplode (which would
    shuffle rows x dims exploded records). The resulting 1-row (mu[],
    sigma[]) table broadcasts to a second corpus scan that standardizes
    in place via a single `transform` lambda — zero additional
    exchanges, output partitioning inherited from the scan. At 100 TB:
    two scans, one broadcast of 128 doubles.

    Cross-engine exactness: elements round half-up to 6 dp first, so
    the DECIMAL(18,6) sum and the DECIMAL(30,12) sum-of-squares (x*x of
    a 6-dp double needs 12 dp; the explicit half-up floor keeps the
    decimal cast identical in both engines) are order-independent exact;
    mu, sigma, and each z are then single identical IEEE expressions on
    identical inputs. Population sigma (biased /n) on both sides;
    constant dimensions map to z=0 rather than a NaN-producing divide."""
    dims = 64
    emb = _t(spark, sf_dir, "embeddings")
    xr = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000000.0 + 0.5) / 1000000.0,
    )
    # spread the one-split scan (round 15, guide §2.5) BEFORE the pin
    # transform, so the interpreted per-element work — the pin, the 129
    # aggregates' inputs, and the z transform — runs after the exchange
    # with full parallelism instead of inside a single scan task;
    # no-op at scale
    base = spread_scan(
        emb.select("vec_id", "label", "embedding"),
        sf_dir, "embeddings", "vec_id",
    ).select("vec_id", "label", xr.alias("xd"))
    # The 129 aggregates and 128 derived parameters are built as
    # SQL-parsed expressions (one py4j call each) rather than Column
    # arithmetic (~15 py4j round-trips each): plan construction was
    # 2.5 s warm — bigger than the 1.5 s execution — before the switch.
    # `1e12`/`0.5D`/`0D` parse as DOUBLE, so every IEEE step is the
    # identical operation the Column form performed (oracle-recertified).
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(dims):
        x = f"element_at(xd, {i + 1})"
        aggs.append(F.expr(f"sum(cast({x} as decimal(18,6)))").alias(f"s{i}"))
        aggs.append(
            F.expr(
                f"sum(cast(floor({x} * {x} * 1e12 + 0.5D) / 1e12"
                " as decimal(30,12)))"
            ).alias(f"q{i}")
        )
    stats = base.agg(*aggs)

    def _var(i: int) -> str:
        mu = f"(cast(s{i} as double) / n)"
        return f"(cast(q{i} as double) / n - {mu} * {mu})"

    mu_sql = (
        "array(" + ",".join(f"cast(s{i} as double) / n" for i in range(dims)) + ")"
    )
    sig_sql = (
        "array("
        + ",".join(
            f"CASE WHEN {_var(i)} <= 0D THEN 0D ELSE sqrt({_var(i)}) END"
            for i in range(dims)
        )
        + ")"
    )
    params = stats.select(
        F.expr(mu_sql).alias("mu"), F.expr(sig_sql).alias("sigma")
    )
    # z is emitted as a comma-joined micro-unit (1e-6) integer-string
    # signature, not an array column: the driver's pandas canonicalizer
    # cannot hash array cells (the r4 RED-row class), and the floor(
    # x*1e6+0.5) BIGINT is already computed before the old /1e6 division,
    # so dropping the division loses nothing — bigint->string formatting
    # is engine-stable where double->string is not.
    z = F.array_join(
        F.transform(
            F.col("xd"),
            lambda x, i: F.floor(
                F.when(F.get(F.col("sigma"), i) == 0, F.lit(0.0))
                .otherwise(
                    (x - F.get(F.col("mu"), i)) / F.get(F.col("sigma"), i)
                )
                * 1000000.0
                + 0.5
            ).cast("string"),
        ),
        ",",
    )
    return (
        base.crossJoin(F.broadcast(params))
        .select("vec_id", "label", z.alias("z_ppm"))
    )


# Shared by sim_pq_adc_topk (fit+encode+probe in one plan) and
# sim_pq_probe (ADC over the RESTORED persisted codes relation): encoding
# is a deterministic per-row function of (corpus, codebooks) and parquet
# round-trips ints/doubles bit-exactly, so both certify against the same
# from-scratch SQL replay.
_PQ_ADC_ORACLE = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e
      FROM (SELECT vec_id, e FROM v WHERE vec_id <> 0
            ORDER BY vec_id LIMIT 16)
    ),
    js AS (SELECT unnest(range(0, 8)) AS j),
    csub AS (
      SELECT cid, j, list_slice(e, j * 8 + 1, j * 8 + 8) AS cs
      FROM cent, js
    ),
    sub AS (
      SELECT v.vec_id, js.j, list_slice(v.e, js.j * 8 + 1, js.j * 8 + 8) AS s
      FROM v, js WHERE v.vec_id <> 0
    ),
    enc AS (
      SELECT s.vec_id, s.j, c.cid AS code
      FROM sub s JOIN csub c USING (j)
      QUALIFY row_number() OVER (
        PARTITION BY s.vec_id, s.j
        ORDER BY list_dot_product(s.s, s.s)
                 - 2 * list_dot_product(s.s, c.cs)
                 + list_dot_product(c.cs, c.cs), c.cid) = 1
    ),
    qsub AS (
      SELECT js.j, list_slice(q.qe, js.j * 8 + 1, js.j * 8 + 8) AS qs
      FROM q, js
    ),
    lut AS (
      SELECT c.j, c.cid,
             CAST(floor((list_dot_product(qs.qs, qs.qs)
                         - 2 * list_dot_product(qs.qs, c.cs)
                         + list_dot_product(c.cs, c.cs))
                        * 1000000000.0 + 0.5) / 1000000000.0
                  AS DECIMAL(18,9)) AS term
      FROM csub c JOIN qsub qs USING (j)
    ),
    adc AS (
      SELECT e.vec_id, sum(l.term) AS dist_dec
      FROM enc e JOIN lut l ON e.j = l.j AND e.code = l.cid
      GROUP BY e.vec_id
    )
    SELECT vec_id,
           floor(CAST(dist_dec AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
             AS approx_dist
    FROM adc ORDER BY approx_dist, vec_id LIMIT 10
    """


def _qvec_and_lowest(emb, k):
    """ONE TakeOrderedAndProject job for the vec_id=0 query vector AND
    the k lowest CORPUS ids' embeddings (vec_id != 0) — round 15, guide
    §5 (driver-job count): the certified form paid one first() job for
    the query row plus a separate collect per model fetch; vec_id 0 is
    the global minimum id, so the k+1 lowest rows contain exactly the
    same values, fetched once. Raises (as the old ``first()[0]`` path
    did, just legibly) when the query row is absent."""
    rows = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(k + 1).collect()
    )
    if not rows or rows[0]["vec_id"] != 0:
        raise ValueError("expected the vec_id=0 query row in the corpus")
    qvec = [float(x) for x in rows[0]["embedding"]]
    vecs = [[float(x) for x in r["embedding"]] for r in rows[1:]]
    return qvec, vecs


@query("sim_pq_adc_topk", oracle=_PQ_ADC_ORACLE)
def sim_pq_adc_topk(spark, sf_dir):
    """Product-quantization ANN (Jégou et al. 2011, similarity/pq.py):
    8 subspaces × 16 centroids encode each corpus vector as 8 one-byte
    codes; the vec_id=0 query searches by asymmetric distance — an 8×16
    literal LUT folded into the scan, 8 lookups + an exact DECIMAL sum
    per vector, top-10 via TakeOrderedAndProject. Registered with the
    deterministic codebook (subvectors of the 16 lowest corpus ids) so
    encode, LUT, and ranking are reproduced bit-exactly by the oracle;
    a k-means codebook drops into the identical encode/ADC plan. The
    memory tier of the ANN family: codes are 8 bytes/vector (32× smaller
    than float32), so the 100 TB corpus scan that dominates ANN cost
    reads 1/32 of the bytes, stays narrow, and never shuffles."""
    from delfos_etl_pipeline_spark.similarity.pq import (
        pq_adc_topk,
        pq_books_from_vecs,
        pq_encode,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec, vecs = _qvec_and_lowest(emb, 16)
    books = pq_books_from_vecs(vecs, m=8, k=16)
    corpus = emb.where(F.col("vec_id") != 0)
    codes = pq_encode(corpus, books, "vec_id", "embedding")
    return pq_adc_topk(codes, books, qvec, "vec_id", k=10)


# The large-k ADC replay: the same from-scratch encode+LUT oracle with
# a 40-centroid codebook per subspace — the k that crosses
# _EXPR_MAX_CENTROIDS, so the Spark side's encode runs on the Arrow
# matmul engine while DuckDB re-derives every code independently.
_PQ_ADC_BIGK_ORACLE = _PQ_ADC_ORACLE.replace(
    "ORDER BY vec_id LIMIT 16", "ORDER BY vec_id LIMIT 40"
)
assert _PQ_ADC_BIGK_ORACLE != _PQ_ADC_ORACLE


@query("sim_pq_adc_bigk", oracle=_PQ_ADC_BIGK_ORACLE)
def sim_pq_adc_bigk(spark, sf_dir):
    """The LARGE-K PQ encode (the pq_encode twin of sim_ivf_build_bigk,
    under the driver's hash gate): 40 centroids per subspace cross
    _EXPR_MAX_CENTROIDS, so the full-corpus encode routes through the
    Arrow-batched matmul engine (similarity/pq.py _pq_encode_matmul)
    instead of m interpreted transform() lambdas over literal
    codebooks, and the ADC top-10 runs over those codes with the
    LIMIT-40 from-scratch oracle replaying every code and LUT term
    bit-for-bit. At 100 TB the standard PQ configuration is k=256 per
    subspace — 2,048 literal centroid arrays in the expression plan,
    evaluated interpreted per corpus row; the matmul engine's plan is
    constant-size with the codebooks riding closure capture, which is
    the only shape that survives production k (the SCALE.md round-14
    crossover: expression engines linear in k, the Arrow form flat)."""
    from delfos_etl_pipeline_spark.similarity.pq import (
        _EXPR_MAX_CENTROIDS,
        pq_adc_topk,
        pq_books_from_vecs,
        pq_encode,
    )

    emb = _t(spark, sf_dir, "embeddings")
    k = 40
    assert k > _EXPR_MAX_CENTROIDS  # the point: the matmul encode route
    qvec, vecs = _qvec_and_lowest(emb, k)
    books = pq_books_from_vecs(vecs, m=8, k=k)
    corpus = emb.where(F.col("vec_id") != 0)
    codes = pq_encode(corpus, books, "vec_id", "embedding")
    return pq_adc_topk(codes, books, qvec, "vec_id", k=10)


#: sim_pq_probe's persisted index, one per (process, sf_dir) —
#: build-once/search-many like _IVF_FIXED_INDEX: repeat invocations
#: (bench iterations) time ONLY the ADC scan over the restored codes.
_PQ_INDEX_STATE: dict = {}


def _ensure_pq_index(spark, sf_dir) -> tuple[str, list[float]]:
    """Build-once accessor for sim_pq_probe's persisted PQ index:
    (index_path, query_vector), fitting + encoding the corpus and
    writing codes + codebook sidecar ONCE per (process, corpus).
    Shared by sim_pq_probe and — via a copy-on-entry clone, since
    deletion MUTATES its copy — sim_pq_probe_deleted (the
    ensure_gram_index unification pattern, VERDICT r11 item 5)."""
    import atexit
    import os
    import shutil
    import tempfile

    from delfos_etl_pipeline_spark.similarity.pq import (
        fit_pq_codebooks_fixed,
        pq_encode,
        write_pq_index,
    )

    state = _PQ_INDEX_STATE.get(sf_dir)
    if state is None:
        emb = _t(spark, sf_dir, "embeddings")
        qvec = [
            float(x)
            for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
        ]
        corpus = emb.where(F.col("vec_id") != 0)
        books = fit_pq_codebooks_fixed(corpus, "vec_id", "embedding", m=8, k=16)
        workdir = tempfile.mkdtemp(prefix="pq_index_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        path = os.path.join(workdir, "index")
        write_pq_index(
            pq_encode(corpus, books, "vec_id", "embedding"), books, path
        )
        state = (path, qvec)
        _PQ_INDEX_STATE[sf_dir] = state
    return state


@query("sim_pq_probe", oracle=_PQ_ADC_ORACLE)
def sim_pq_probe(spark, sf_dir):
    """PQ PROBE phase against a PERSISTED index (VERDICT r9 item 3 —
    completes the persisted-index family: grams, MinHash bands, IVF
    cells, now PQ codes): fit + encode run ONCE per (process, corpus)
    and write_pq_index materializes the codes relation plus the
    codebook sidecar; every invocation RESTORES both (read_pq_index, no
    lineage to the builder) and runs only the ADC scan — m LUT lookups
    + an exact DECIMAL sum per row over an 8-byte/vector table, the
    32×-fewer-bytes steady-state serving number the sim_pq_adc_topk
    docstring argues for 100 TB. Shares that query's exact oracle: the
    hash match certifies materialize -> restore -> probe is
    bit-identical to fit+encode+probe in one plan (the sim_ivf_probe
    pattern, queries/similarity.py sim_ivf_probe)."""
    from delfos_etl_pipeline_spark.similarity.pq import (
        pq_adc_topk,
        read_pq_index,
    )

    path, qvec = _ensure_pq_index(spark, sf_dir)
    codes, books = read_pq_index(spark, path)
    return pq_adc_topk(codes, books, qvec, "vec_id", k=10)


# sim_pq_probe_deleted's oracle: the from-scratch ADC replay with the
# takedown manifest (vec_id % 7 == 2) excluded from the ENCODED corpus —
# and only there: the codebook CTE stays the full corpus, because
# deletion never re-trains the frozen quantizer.
_PQ_ADC_DELETED_ORACLE = _PQ_ADC_ORACLE.replace(
    "FROM v, js WHERE v.vec_id <> 0",
    "FROM v, js WHERE v.vec_id <> 0 AND v.vec_id % 7 <> 2",
)
assert _PQ_ADC_DELETED_ORACLE != _PQ_ADC_ORACLE

#: sim_pq_probe_deleted's tombstoned index clone, one per
#: (process, sf_dir).
_PQ_DELETED_STATE: dict = {}


def _ensure_pq_deleted_index(spark, sf_dir) -> tuple[str, list[float]]:
    """Build-once accessor for the TOMBSTONED PQ index clone:
    (index_path, query_vector) — the shared _ensure_pq_index
    materialization copied, then the vec_id % 7 == 2 takedown manifest
    appended as tombstones. Shared by sim_pq_probe_deleted (probes the
    tombstoned state) and — via one more clone — sim_pq_probe_compacted
    (compacts its clone first, certifying the physical rewrite)."""
    import atexit
    import os
    import shutil
    import tempfile

    from delfos_etl_pipeline_spark.similarity.pq import remove_from_pq_index

    state = _PQ_DELETED_STATE.get(sf_dir)
    if state is None:
        src, qvec = _ensure_pq_index(spark, sf_dir)
        workdir = tempfile.mkdtemp(prefix="pq_deleted_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        path = os.path.join(workdir, "index")
        shutil.copytree(src, path)
        emb = _t(spark, sf_dir, "embeddings")
        remove_from_pq_index(
            emb.where(
                (F.col("vec_id") != 0) & (F.col("vec_id") % 7 == 2)
            ).select("vec_id"),
            path,
            "vec_id",
        )
        state = (path, qvec)
        _PQ_DELETED_STATE[sf_dir] = state
    return state


@query("sim_pq_probe_deleted", oracle=_PQ_ADC_DELETED_ORACLE)
def sim_pq_probe_deleted(spark, sf_dir):
    """Certified PQ index DELETION (VERDICT r11 item 1 — the fourth
    index family; grams/MinHash/IVF are certified together by
    curate_nightly_ingest_day3): the persisted sim_pq_probe index is
    cloned (copy-on-entry of the shared _ensure_pq_index
    materialization — the corpus is fitted + encoded once per process),
    a takedown manifest (vec_id % 7 == 2) is tombstoned out via
    remove_from_pq_index — O(manifest) append beside the codes files,
    codebook sidecar untouched (it IS the frozen quantizer) — and the
    ADC top-10 runs over the post-removal restore: read_pq_index
    anti-joins the tombstones (broadcast) before the LUT scan, so
    removed vectors can never rank. The oracle replays encode + ADC
    from scratch over corpus ∖ manifest with the FULL-corpus codebooks,
    so the hash match certifies probe-time tombstoning ≡ rebuilding the
    codes relation over the post-takedown corpus. At 100 TB: removal
    appends a manifest-sized relation, the 8-byte/vector ADC scan and
    its partition pruning are untouched, and compact_pq_index reclaims
    the bytes out of band (certified by sim_pq_probe_compacted)."""
    from delfos_etl_pipeline_spark.similarity.pq import (
        pq_adc_topk,
        read_pq_index,
    )

    path, qvec = _ensure_pq_deleted_index(spark, sf_dir)
    codes, books = read_pq_index(spark, path)
    return pq_adc_topk(codes, books, qvec, "vec_id", k=10)


#: sim_pq_probe_compacted's physically-compacted clone, one per
#: (process, sf_dir).
_PQ_COMPACTED_STATE: dict = {}


@query("sim_pq_probe_compacted", oracle=_PQ_ADC_DELETED_ORACLE)
def sim_pq_probe_compacted(spark, sf_dir):
    """Certified index COMPACTION (closes the r12 lifecycle under the
    driver's hash gate — build → probe → merge → remove were already
    driver-certified; this certifies the physical-rewrite step): the
    tombstoned sim_pq_probe_deleted index is cloned once more and
    compact_pq_index rewrites it — tombstoned rows physically dropped,
    append fragmentation collapsed, tombstone relation retired, the
    whole swap through sinks.staged_swap's crash-safe rename-aside
    protocol — and the ADC top-10 probes the compacted restore. Sharing
    sim_pq_probe_deleted's exact oracle means the hash match certifies
    that compaction is bit-INVISIBLE to probes: the physically-reduced
    index ranks identically to the logically-tombstoned one, which
    ranks identically to a from-scratch re-encode of corpus ∖ manifest
    (pytest pins the same equality for the gram/MinHash/IVF compactors;
    this puts one family's compaction under the driver gate too). At
    100 TB compaction is the out-of-band weekend job that reclaims
    takedown bytes and the small-file debt of nightly merges — this
    query is the proof it can run without a correctness review."""
    import atexit
    import os
    import shutil
    import tempfile

    from delfos_etl_pipeline_spark.similarity.pq import (
        compact_pq_index,
        pq_adc_topk,
        read_pq_index,
    )

    state = _PQ_COMPACTED_STATE.get(sf_dir)
    if state is None:
        src, qvec = _ensure_pq_deleted_index(spark, sf_dir)
        workdir = tempfile.mkdtemp(prefix="pq_compacted_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        path = os.path.join(workdir, "index")
        shutil.copytree(src, path)
        compact_pq_index(spark, path)
        state = (path, qvec)
        _PQ_COMPACTED_STATE[sf_dir] = state
    path, qvec = state
    codes, books = read_pq_index(spark, path)
    return pq_adc_topk(codes, books, qvec, "vec_id", k=10)


#: sim_pq_probe_streamed's streaming-merged index, one per
#: (process, sf_dir).
_PQ_STREAMED_STATE: dict = {}


@query("sim_pq_probe_streamed", oracle=_PQ_ADC_ORACLE)
def sim_pq_probe_streamed(spark, sf_dir):
    """Certified STREAMING PQ index maintenance (VERDICT r13 item 1 —
    the one lifecycle gap: gram/MinHash/IVF had certified streaming
    sinks via curate_nightly_ingest_day2_streamed, PQ only a docstring):
    the PQ index is built over a PARTIAL corpus (vec_id % 5 != 3) with
    the codebooks fitted over the FULL corpus and frozen — the build-time
    quantizer-freeze discipline — then the held-out rows (vec_id % 5 ==
    3) arrive as a parquet-source stream drained availableNow through
    run_pq_index_ingest: three micro-batches, each pq_encode'd against
    the frozen codebooks inside the batch function and appended through
    merge_into_pq_index with the epoch-tagged id (exactly-once under
    replay via the done-marker protocol; pytest pins the replay no-op).
    The ADC top-10 probes the streamed state. The oracle is
    _PQ_ADC_ORACLE verbatim — the from-scratch encode+ADC replay over
    the FULL corpus — so one driver hash pins the whole equivalence:
    streamed-merged ≡ batch-merged (sim_pq_probe's green row) ≡
    rebuilt-from-scratch. At 100 TB this is PQ serving under a
    continuous crawl: the codes relation grows O(batch) per micro-batch,
    the codebook sidecar is never touched, and the 8-byte/vector ADC
    scan is identical to the nightly-built index's."""
    import atexit
    import os
    import shutil
    import tempfile

    from delfos_etl_pipeline_spark.similarity.pq import (
        fit_pq_codebooks_fixed,
        pq_adc_topk,
        pq_encode,
        read_pq_index,
        write_pq_index,
    )
    from delfos_etl_pipeline_spark.streaming.index_ingest import (
        run_pq_index_ingest,
    )
    from delfos_etl_pipeline_spark.streaming.runner import (
        read_parquet_stream,
    )

    state = _PQ_STREAMED_STATE.get(sf_dir)
    if state is None:
        emb = _t(spark, sf_dir, "embeddings")
        qvec = [
            float(x)
            for x in emb.where(F.col("vec_id") == 0)
            .select("embedding").first()[0]
        ]
        corpus = emb.where(F.col("vec_id") != 0)
        # codebooks: FULL corpus, frozen (identical to sim_pq_probe's)
        books = fit_pq_codebooks_fixed(
            corpus, "vec_id", "embedding", m=8, k=16
        )
        standing = corpus.where(F.col("vec_id") % 5 != 3)
        streamed = corpus.where(F.col("vec_id") % 5 == 3)
        workdir = tempfile.mkdtemp(prefix="pq_streamed_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        path = os.path.join(workdir, "index")
        write_pq_index(
            pq_encode(standing, books, "vec_id", "embedding"), books, path
        )
        stage = os.path.join(workdir, "stage_vecs")
        streamed.select("vec_id", "embedding").repartition(3).write.parquet(
            stage
        )
        q = run_pq_index_ingest(
            read_parquet_stream(
                spark, stage, spark.read.parquet(stage).schema,
                max_files_per_trigger=1,
            ),
            path, books, os.path.join(workdir, "ckpt"),
            stream_id="crawl",
        )
        assert q.awaitTermination(240), "PQ ingest stream timed out"
        state = (path, qvec)
        _PQ_STREAMED_STATE[sf_dir] = state
    path, qvec = state
    codes, books = read_pq_index(spark, path)
    return pq_adc_topk(codes, books, qvec, "vec_id", k=10)


#: sim_pq_lifecycle_bigk's maintained 40-centroid codes store, one per
#: (process, sf_dir).
_PQ_BIGK_LIFECYCLE_STATE: dict = {}


@query("sim_pq_lifecycle_bigk", oracle=_PQ_ADC_BIGK_ORACLE)
def sim_pq_lifecycle_bigk(spark, sf_dir):
    """The PQ twin of sim_ivf_lifecycle_bigk (VERDICT r14 item 3): the
    40-centroid-per-subspace codes store — above _EXPR_MAX_CENTROIDS,
    so EVERY encode in this history routes through the Arrow matmul
    engine (similarity/pq.py _pq_encode_matmul) — lives through the
    same build -> merge -> remove -> compact -> re-merge history:
    codebooks fitted over the FULL corpus and frozen, the standing
    third encoded and written, night 1 merging the second third plus
    the churn third (matmul-encoded against the frozen books,
    merge_into_pq_index's marker idempotence), the churn third
    tombstoned out, compact_pq_index physically rewriting the codes
    relation and retiring the tombstones, and the churn third RE-ADDED
    through the post-compaction merge — matmul-encoded again. The ADC
    top-10 probes the final restore, and since the effective corpus is
    the full corpus, the oracle is sim_pq_adc_bigk's from-scratch
    LIMIT-40 encode+LUT replay VERBATIM: one driver hash pins
    merged+removed+compacted+re-merged ≡ encoded-from-scratch at the
    production-k engine routing, code-for-code and LUT-term-for-term.
    At 100 TB the standard PQ shape is k=256 — this chapter is the
    proof the 8-byte/vector serving store can absorb nightly crawls,
    takedowns, and weekend compactions without its quantizer, its
    codes, or its ranking drifting at the k that production runs."""
    import atexit
    import os
    import shutil
    import tempfile

    from delfos_etl_pipeline_spark.similarity.pq import (
        _EXPR_MAX_CENTROIDS,
        compact_pq_index,
        fit_pq_codebooks_fixed,
        merge_into_pq_index,
        pq_adc_topk,
        pq_encode,
        read_pq_index,
        remove_from_pq_index,
        write_pq_index,
    )

    state = _PQ_BIGK_LIFECYCLE_STATE.get(sf_dir)
    if state is None:
        emb = _t(spark, sf_dir, "embeddings")
        qvec = [
            float(x)
            for x in emb.where(F.col("vec_id") == 0)
            .select("embedding").first()[0]
        ]
        corpus = emb.where(F.col("vec_id") != 0)
        k = 40
        assert k > _EXPR_MAX_CENTROIDS  # every encode: matmul route
        # frozen quantizer: fitted over the FULL corpus, never re-trained
        books = fit_pq_codebooks_fixed(
            corpus, "vec_id", "embedding", m=8, k=k
        )

        def enc(part):
            return pq_encode(part, books, "vec_id", "embedding")

        standing = corpus.where(F.col("vec_id") % 3 == 1)
        batch1 = corpus.where(F.col("vec_id") % 3 == 2)
        churn = corpus.where(F.col("vec_id") % 3 == 0)
        workdir = tempfile.mkdtemp(prefix="pq_bigk_life_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        path = os.path.join(workdir, "index")
        write_pq_index(enc(standing), books, path)
        merge_into_pq_index(
            enc(batch1.unionByName(churn)), path, batch_id="night1"
        )
        remove_from_pq_index(churn.select("vec_id"), path)
        compact_pq_index(spark, path)
        merge_into_pq_index(enc(churn), path, batch_id="night2")
        state = (path, qvec)
        _PQ_BIGK_LIFECYCLE_STATE[sf_dir] = state
    path, qvec = state
    codes, books = read_pq_index(spark, path)
    return pq_adc_topk(codes, books, qvec, "vec_id", k=10)


# Shared by sim_ivfpq_topk (both stages built inline) and sim_ivfpq_probe
# (partition-pruned ADC over the RESTORED partitionBy(cluster) codes
# relation): full-corpus-encode-then-prune selects exactly the rows
# prune-then-encode encodes, with identical per-row code expressions, so
# both certify against the same composed SQL replay.
_IVFPQ_ORACLE = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    cent AS (
      SELECT vec_id AS cid, e AS ce FROM v
      WHERE vec_id <> 0 ORDER BY vec_id LIMIT 8
    ),
    scored AS (
      SELECT v.vec_id, v.e, c.cid,
             list_dot_product(v.e, c.ce) /
               (sqrt(list_dot_product(v.e, v.e)) *
                sqrt(list_dot_product(c.ce, c.ce))) AS sim
      FROM v JOIN cent c ON true
      WHERE v.vec_id <> 0
    ),
    assign AS (
      SELECT vec_id, e, cid AS cluster FROM scored
      QUALIFY row_number() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, cid) = 1
    ),
    probe AS (
      SELECT c.cid FROM cent c, q
      ORDER BY list_dot_product(c.ce, q.qe) /
               (sqrt(list_dot_product(c.ce, c.ce)) *
                sqrt(list_dot_product(q.qe, q.qe))) DESC, c.cid
      LIMIT 2
    ),
    cand AS (
      SELECT vec_id, e FROM assign
      WHERE cluster IN (SELECT cid FROM probe)
    ),
    pcent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pcid, e
      FROM (SELECT vec_id, e FROM v WHERE vec_id <> 0
            ORDER BY vec_id LIMIT 16)
    ),
    js AS (SELECT unnest(range(0, 8)) AS j),
    csub AS (
      SELECT pcid, j, list_slice(e, j * 8 + 1, j * 8 + 8) AS cs
      FROM pcent, js
    ),
    sub AS (
      SELECT c.vec_id, js.j, list_slice(c.e, js.j * 8 + 1, js.j * 8 + 8) AS s
      FROM cand c, js
    ),
    enc AS (
      SELECT s.vec_id, s.j, c.pcid AS code
      FROM sub s JOIN csub c USING (j)
      QUALIFY row_number() OVER (
        PARTITION BY s.vec_id, s.j
        ORDER BY list_dot_product(s.s, s.s)
                 - 2 * list_dot_product(s.s, c.cs)
                 + list_dot_product(c.cs, c.cs), c.pcid) = 1
    ),
    qsub AS (
      SELECT js.j, list_slice(q.qe, js.j * 8 + 1, js.j * 8 + 8) AS qs
      FROM q, js
    ),
    lut AS (
      SELECT c.j, c.pcid,
             CAST(floor((list_dot_product(qs.qs, qs.qs)
                         - 2 * list_dot_product(qs.qs, c.cs)
                         + list_dot_product(c.cs, c.cs))
                        * 1000000000.0 + 0.5) / 1000000000.0
                  AS DECIMAL(18,9)) AS term
      FROM csub c JOIN qsub qs USING (j)
    ),
    adc AS (
      SELECT e.vec_id, sum(l.term) AS dist_dec
      FROM enc e JOIN lut l ON e.j = l.j AND e.code = l.pcid
      GROUP BY e.vec_id
    )
    SELECT vec_id,
           floor(CAST(dist_dec AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
             AS approx_dist
    FROM adc ORDER BY approx_dist, vec_id LIMIT 10
    """


@query("sim_ivfpq_topk", oracle=_IVFPQ_ORACLE)
def sim_ivfpq_topk(spark, sf_dir):
    """IVF-PQ — the composition that serves billion-vector ANN in
    production (FAISS IVFPQ): the coarse quantizer prunes WHICH vectors
    are scanned (2 of 8 cells, partition-pruned when the code table is
    persisted partitionBy(cluster)), and PQ shrinks WHAT the scan reads
    (8 one-byte codes/vector, LUT-folded asymmetric distances). Both
    stages use their deterministic fixed builds (8 lowest-id IVF
    centroids; 16 lowest-id PQ codebooks), so cell assignment, probe
    choice, encoding, and ADC ranking are ALL reproduced bit-exactly by
    the single composed oracle — certifying the end-to-end two-stage ANN,
    not just its parts. Swap in k-means builds (build_ivf_index /
    fit_pq_codebooks_kmeans) for recall; plans are identical. At 100 TB:
    probe reads n_probe/n_clusters of an 8-byte/vector table — a
    ~128× byte reduction over a full float scan before any ranking."""
    from delfos_etl_pipeline_spark.similarity.ivf import (
        assign_fixed_centroids,
        probe_cells,
    )
    from delfos_etl_pipeline_spark.similarity.pq import (
        pq_adc_topk,
        pq_books_from_vecs,
        pq_encode,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # one driver fetch serves all three models (round 15, guide §5):
    # the 16 lowest corpus ids carry the 8 IVF centroids (their prefix)
    # and the 16 PQ codebook rows; the old form paid four driver jobs
    # (query first(), centroid ids, centroid rows, codebook rows) for
    # the same values.
    qvec, vecs = _qvec_and_lowest(emb, 16)
    cents = vecs[:8]
    books = pq_books_from_vecs(vecs, m=8, k=16)
    corpus = emb.where(F.col("vec_id") != 0)
    assigned = assign_fixed_centroids(corpus, cents, "embedding", inline=True)
    cells = probe_cells(qvec, cents, n_probe=2)
    cand = assigned.where(F.col("cluster").isin(cells))
    codes = pq_encode(cand, books, "vec_id", "embedding")
    return pq_adc_topk(codes, books, qvec, "vec_id", k=10)


#: sim_ivfpq_probe's persisted composed index, one per (process, sf_dir).
_IVFPQ_INDEX_STATE: dict = {}


@query("sim_ivfpq_probe", oracle=_IVFPQ_ORACLE)
def sim_ivfpq_probe(spark, sf_dir):
    """IVF-PQ PROBE phase against a PERSISTED composed index (VERDICT r9
    item 3): the FULL corpus is coarse-assigned and PQ-encoded once per
    (process, corpus), and write_pq_index materializes the codes
    relation partitionBy(cluster) plus the codebook sidecar. Every
    invocation restores it and scans only the 2 probed cells'
    partitions — partition pruning picks the files, the ADC LUT folds
    into the scan, so the steady-state serving read is
    n_probe/n_clusters of an 8-byte/vector table (~128× fewer bytes
    than a full float scan). Encoding the full corpus then pruning
    selects exactly the rows sim_ivfpq_topk's prune-then-encode
    encodes, with identical per-row code expressions, so the shared
    oracle's hash match certifies the materialize -> restore ->
    partition-pruned-probe composition end to end."""
    import atexit
    import os
    import shutil
    import tempfile

    from delfos_etl_pipeline_spark.similarity.ivf import (
        build_ivf_index_fixed,
        probe_cells,
    )
    from delfos_etl_pipeline_spark.similarity.pq import (
        fit_pq_codebooks_fixed,
        pq_adc_topk,
        pq_encode,
        read_pq_index,
        write_pq_index,
    )

    state = _IVFPQ_INDEX_STATE.get(sf_dir)
    if state is None:
        emb = _t(spark, sf_dir, "embeddings")
        qvec = [
            float(x)
            for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
        ]
        corpus = emb.where(F.col("vec_id") != 0)
        assigned, cents = build_ivf_index_fixed(
            corpus, "vec_id", "embedding", n_clusters=8
        )
        books = fit_pq_codebooks_fixed(corpus, "vec_id", "embedding", m=8, k=16)
        codes = pq_encode(assigned, books, "vec_id", "embedding").join(
            assigned.select("vec_id", "cluster"), "vec_id"
        )
        workdir = tempfile.mkdtemp(prefix="ivfpq_index_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        path = os.path.join(workdir, "index")
        write_pq_index(codes, books, path, partition_col="cluster")
        state = (path, qvec, probe_cells(qvec, cents, n_probe=2))
        _IVFPQ_INDEX_STATE[sf_dir] = state
    path, qvec, cells = state
    codes, books = read_pq_index(spark, path)
    return pq_adc_topk(
        codes.where(F.col("cluster").isin(cells)).drop("cluster"),
        books,
        qvec,
        "vec_id",
        k=10,
    )


def _jl_signs(i: int, j: int) -> int:
    """±1 from md5 parity of 'i|j' — reproducible in ANSI SQL."""
    import hashlib

    return 1 if int(hashlib.md5(f"{i}|{j}".encode()).hexdigest()[0], 16) % 2 == 0 else -1


@query(
    "emb_project_jl",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    t AS (
      SELECT vec_id, j,
             CAST(floor(e[i + 1] * 1000000.0 + 0.5) / 1000000.0
                  AS DECIMAL(18,6))
             * (CASE WHEN ('0x' || substr(md5(i::VARCHAR || '|' || j::VARCHAR),
                           1, 1))::BIGINT % 2 = 0
                     THEN 1 ELSE -1 END) AS term
      FROM v, unnest(range(0, 16)) tj(j), unnest(range(0, 64)) ti(i)
    )
    SELECT vec_id, CAST(j AS BIGINT) AS out_dim,
           floor((CAST(sum(term) AS DOUBLE) / 4.0) * 1000000.0 + 0.5)
             / 1000000.0 AS value
    FROM t GROUP BY vec_id, j
    """,
)
def emb_project_jl(spark, sf_dir):
    """Johnson-Lindenstrauss random projection 64 → 16 dims — the
    DATA-INDEPENDENT dimensionality-reduction tier (Achlioptas ±1 sign
    matrix): pairwise distances are preserved within the JL bound with
    NO training pass, no model state, and a projection that is a pure
    narrow expression over the scan — the shape that preprocesses 100 TB
    of embeddings for cheaper ANN without ever aggregating. The sign
    matrix derives from md5 parity of (in_dim | out_dim), so the oracle
    reproduces the exact projection; elements round half-up to 6
    decimals into DECIMAL before the order-free signed sum (÷√k = ÷4
    exactly). Long-form output (vec_id, out_dim, value). PCA (trained,
    variance-optimal) is the quality twin over the same output contract
    — see similarity/pca.py."""
    dims, k = 64, 16
    emb = _t(spark, sf_dir, "embeddings")
    e_dec = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: ((F.floor(x * 1000000.0 + 0.5) / 1000000.0)).cast(
            "decimal(18,6)"
        ),
    )
    out = emb.select("vec_id", e_dec.alias("_ed"))
    sums = []
    for j in range(k):
        signs = F.array(
            *[F.lit(_jl_signs(i, j)) for i in range(dims)]
        )
        sums.append(
            F.aggregate(
                F.zip_with(F.col("_ed"), signs, lambda x, s: x * s),
                F.lit(0).cast("decimal(28,6)"),
                # re-cast each step: decimal + widens the type per fold and
                # Spark requires the accumulator type to stay fixed; values
                # are |sum| < 2^7, so (28,6) never saturates
                lambda acc, x: (acc + x).cast("decimal(28,6)"),
            )
        )
    return out.select(
        "vec_id", F.posexplode(F.array(*sums)).alias("out_dim", "_s")
    ).select(
        "vec_id",
        F.col("out_dim").cast("bigint").alias("out_dim"),
        (
            F.floor((F.col("_s").cast("double") / 4.0) * 1000000.0 + 0.5)
            / 1000000.0
        ).alias("value"),
    )


def _pca_power_oracle_sql(k: int = 16, t_iters: int = 6, d: int = 64) -> str:
    """Unrolled exact-integer power iteration for emb_project_pca
    (VERDICT r12 item 4) — the emb_kmeans_train pattern taken to
    HUGEINT: micro-unit pin → pinned per-dimension means (one IEEE
    division each) → exact 64×64 integer scatter → per component, the
    same fixed-budget iteration the Spark driver runs
    (pca_power_iterate): HUGEINT mat-vec, trunc-rescale, Gram-Schmidt
    against previous components, max-abs renormalization — every
    integer division written in the non-negative ``abs(x) // y`` form
    Python and DuckDB agree on. Start vectors are the md5-parity
    literals of pca_power_init_sign, inlined as VALUES. Multi-referenced
    CTEs are AS MATERIALIZED — default inlining re-expands the scatter's
    whole upstream chain per iteration reference (~100× parquet re-scans
    measured; the _DAY3_ORACLE lesson)."""
    from delfos_etl_pipeline_spark.similarity.pca import (
        PCA_POWER_DOWN,
        PCA_POWER_SCALE,
        pca_power_init_sign,
    )

    parts = [
        """
x AS MATERIALIZED (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
        CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
             AS BIGINT) AS xd6
      FROM embeddings),
mean6 AS (SELECT j,
        CAST(floor(CAST(sum(xd6) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS m6
      FROM x GROUP BY j),
xc AS MATERIALIZED (SELECT vec_id, x.j, xd6 - m6 AS v
      FROM x JOIN mean6 USING (j)),
smat AS MATERIALIZED (SELECT a.j AS i, b.j AS jj,
        CAST(sum(CAST(a.v AS HUGEINT) * b.v) AS HUGEINT) AS s
      FROM xc a JOIN xc b USING (vec_id) GROUP BY 1, 2),
u0 AS MATERIALIZED (SELECT CAST(NULL AS INTEGER) AS c,
        CAST(NULL AS INTEGER) AS j, CAST(NULL AS HUGEINT) AS val
      WHERE false)"""
    ]
    for c in range(k):
        vals = ", ".join(
            f"({j}, CAST({pca_power_init_sign(c, j) * PCA_POWER_SCALE}"
            " AS HUGEINT))"
            for j in range(d)
        )
        parts.append(
            f"v{c}_0 AS MATERIALIZED (SELECT * FROM (VALUES {vals})"
            " t(j, val))"
        )
        for t in range(1, t_iters + 1):
            p = f"{c}_{t}"
            pv = f"v{c}_{t - 1}"
            parts.append(f"""
w{p} AS (SELECT smat.i AS j, CAST(sum(s * val) AS HUGEINT) AS w
         FROM smat JOIN {pv} vv ON smat.jj = vv.j GROUP BY 1),
ws{p} AS MATERIALIZED (SELECT j,
          CASE WHEN w >= 0 THEN w // CAST({PCA_POWER_DOWN} AS HUGEINT)
               ELSE -((-w) // CAST({PCA_POWER_DOWN} AS HUGEINT)) END AS val
          FROM w{p}),
corr{p} AS (SELECT u.j,
        CAST(sum(CASE WHEN dd.d * u.val >= 0
                      THEN (dd.d * u.val) // dd.n2
                      ELSE -((-(dd.d * u.val)) // dd.n2) END)
             AS HUGEINT) AS corr
      FROM u{c} u JOIN (
        SELECT u2.c AS p, CAST(sum(u2.val * ws.val) AS HUGEINT) AS d,
               CAST(sum(u2.val * u2.val) AS HUGEINT) AS n2
        FROM u{c} u2 JOIN ws{p} ws USING (j) GROUP BY 1
      ) dd ON u.c = dd.p GROUP BY u.j),
g{p} AS MATERIALIZED (SELECT ws.j, ws.val - COALESCE(corr.corr, 0) AS val
         FROM ws{p} ws LEFT JOIN corr{p} corr USING (j)),
m{p} AS (SELECT max(abs(val)) AS m FROM g{p}),
v{c}_{t} AS MATERIALIZED (SELECT g.j,
        CASE WHEN mm.m = 0 THEN pv.val
             WHEN g.val >= 0
               THEN (g.val * CAST({PCA_POWER_SCALE} AS HUGEINT)) // mm.m
             ELSE -((-(g.val * CAST({PCA_POWER_SCALE} AS HUGEINT))) // mm.m)
        END AS val
      FROM g{p} g JOIN {pv} pv USING (j) CROSS JOIN m{p} mm)""")
        parts.append(f"""
sgn{c} AS (SELECT CASE WHEN COALESCE((SELECT val FROM v{c}_{t_iters}
                    WHERE val <> 0 ORDER BY j LIMIT 1), 1) < 0
                  THEN -1 ELSE 1 END AS s),
u{c + 1} AS MATERIALIZED (SELECT * FROM u{c} UNION ALL
             SELECT {c} AS c, j, val * s AS val
             FROM v{c}_{t_iters} CROSS JOIN sgn{c})""")
    parts.append(f"""
norm2 AS (SELECT c, CAST(sum(val * val) AS HUGEINT) AS n2
          FROM u{k} GROUP BY c),
acc AS (SELECT xc.vec_id, u.c AS out_dim,
               CAST(sum(xc.v * u.val) AS HUGEINT) AS a
        FROM xc JOIN u{k} u ON xc.j = u.j GROUP BY 1, 2)""")
    return (
        "WITH" + ",".join(parts) + """
SELECT acc.vec_id, CAST(out_dim AS BIGINT) AS out_dim,
       CAST(floor(CAST(a AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)) + 0.5)
            AS DOUBLE) / 1000000.0 AS value
FROM acc JOIN norm2 ON acc.out_dim = norm2.c"""
    )


@query("emb_project_pca", lazy_oracle=_pca_power_oracle_sql)
def emb_project_pca(spark, sf_dir):
    """PCA 64 → 16 — the TRAINED dimensionality-reduction tier, now
    EXACT-ORACLED (VERDICT r12 item 4): the unpinnable ml.feature.PCA
    eigendecomposition is replaced by pca_power_fit_project's
    deterministic sign-pinned power iteration (similarity/pca.py) —
    fixed 6-step budget per component, md5-parity start vectors,
    Gram-Schmidt deflation, first-nonzero-coordinate sign pin, every
    step exact integer arithmetic — so the DuckDB oracle replays the
    ENTIRE fit bit-for-bit as unrolled HUGEINT CTEs and this query
    leaves the rows-only set. Captures ≥96% of the true top-16
    subspace energy on this corpus with component cross-norms < 1e-9
    (tests/test_similarity.py), vs the fit-free JL tier
    (emb_project_jl) over the same (vec_id, out_dim, value) contract.
    Scale shape: one 64-key pass (pinned means), one map-side-combined
    4,096-key pass (exact scatter), model-sized driver state only, and
    a narrow codegen projection — no UDF, shuffles independent of
    corpus size."""
    from delfos_etl_pipeline_spark.similarity.pca import (
        pca_power_fit_project,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out, _ = pca_power_fit_project(emb, "vec_id", "embedding", k=16, iters=6)
    return out


@query(
    "emb_silhouette_centroid",
    oracle="""
    WITH x AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) - 1 AS dim_idx,
             floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
               / 1000000.0 AS xd
      FROM embeddings
    ),
    ct AS (
      SELECT label AS label_c, dim_idx,
             floor((CAST(sum(CAST(xd AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS centroid
      FROM x GROUP BY label, dim_idx
    ),
    t AS (
      SELECT x.vec_id, x.label, ct.label_c,
             CAST(floor((x.xd - ct.centroid) * (x.xd - ct.centroid)
                        * 1000000000000.0 + 0.5) / 1000000000000.0
                  AS DECIMAL(30,12)) AS term
      FROM x JOIN ct ON x.dim_idx = ct.dim_idx
    ),
    d AS (
      SELECT vec_id, label, label_c,
             sqrt(CAST(sum(term) AS DOUBLE)) AS dist
      FROM t GROUP BY vec_id, label, label_c
    ),
    s AS (
      SELECT vec_id, label,
             max(CASE WHEN label_c = label THEN dist END) AS a,
             min(CASE WHEN label_c <> label THEN dist END) AS b
      FROM d GROUP BY vec_id, label
    ),
    u AS (
      SELECT label,
             CAST(floor((b - a) / greatest(a, b) * 1000000000.0 + 0.5)
                  AS BIGINT) AS su
      FROM s
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           floor(CAST(sum(su) AS DOUBLE) / count(*) + 0.5) / 1000000000.0
             AS silhouette
    FROM u GROUP BY label
    """,
)
def emb_silhouette_centroid(spark, sf_dir):
    """Centroid-based (simplified) silhouette score per class — the
    clustering-quality diagnostic: a = distance to the own-class
    prototype, b = distance to the nearest other prototype, s =
    (b−a)/max(a,b), averaged per class. Unlike the full silhouette's
    O(n²) pairwise distances, the centroid form is O(n·k·dims): the
    |labels|×dims prototype table (exact decimal means, same contract as
    emb_centroid_by_label) collapses to per-label centroid ARRAYS in one
    broadcast row, and every corpus row folds its k distances in place
    (zip_with + exact-decimal aggregate); squared deviations pin to
    DECIMAL(30,12) micro-terms (the emb_standardize idiom) so the 64-dim
    reduction is an exact sum on both engines, and sqrt/divide/min are
    single correctly-rounded IEEE ops. Per-class means accumulate the
    scores as integer nano-units. 100 TB: one exploded pass for the
    prototypes (map-side partial agg), one broadcast of k·64 doubles,
    one narrow scoring scan; nothing driver-side but the result."""
    dims = 64
    # Round 15 (guide §2.5): everything up to the first aggregation —
    # the ×64 explode, the broadcast-join ×k fan-out, and the
    # decimal(30,12) micro-term storm — pipelines inside the SCAN stage,
    # and a one-row-group input runs that stage as one task; spread_scan
    # parallelizes it only on such inputs (no-op at scale).
    emb = spread_scan(
        _t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding"),
        sf_dir, "embeddings", "vec_id",
    )
    pinned = "array(" + ",".join(
        f"floor(cast(element_at(embedding, {i + 1}) as double)"
        " * 1000000.0D + 0.5D) / 1000000.0D"
        for i in range(dims)
    ) + ")"
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.expr(pinned)).alias("dim_idx", "xd"),
    )
    ct = (
        x.groupBy(F.col("label").alias("label_c"), "dim_idx")
        .agg(
            (
                F.floor(
                    (
                        F.sum(F.col("xd").cast("decimal(18,6)")).cast("double")
                        / F.count(F.lit(1))
                    )
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0
            ).alias("centroid")
        )
    )
    # Round 16 (VERDICT r15 item 4, guide §2.3/§2.4): the distance pass
    # no longer explodes ×64 and broadcast-joins ×k (n·64·k term ROWS
    # through two hash aggregates and a n·k-row exchange, all linear in
    # corpus size). The |labels|×dims prototype table collapses into ONE
    # broadcast row of (label_c, centroid-array) structs, and each
    # corpus row computes its k distances in place with a zip_with +
    # exact-decimal fold. Bit-identical by construction: each micro-term
    # is the same floor((x−c)²·1e12+0.5)/1e12 double cast to
    # DECIMAL(30,12); the fold's additions are exact (decimal(31,12)
    # intermediates, downcast lossless at these magnitudes — NEVER a
    # (38,12) accumulator, whose +(30,12) would round to scale 11), so
    # the fold equals the old order-free grouped sum, and sqrt/divide
    # stay the same single IEEE ops on the same doubles. a = the
    # singleton own-label distance (array_min ≡ the old max-over-one),
    # b = min over the other labels; NULL labels yield empty filters →
    # NULL a/b, exactly the old NULL-comparison semantics. vec_id is
    # unique (corpus PK), so per-row == the old per-(vec_id,label)
    # grouping. At 100 TB: one broadcast of k·64 doubles, zero
    # data-row exchanges between the scan and the per-label reduce.
    ct_arr = (
        ct.groupBy("label_c")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim_idx", "centroid"))
            ).alias("_s")
        )
        .select("label_c", F.col("_s.centroid").alias("cent"))
    )
    cents = ct_arr.agg(
        F.collect_list(F.struct("label_c", "cent")).alias("cents")
    )

    def _term(xv, cv):
        dv = xv - cv
        return (
            F.floor(dv * dv * F.lit(1000000000000.0) + F.lit(0.5))
            / F.lit(1000000000000.0)
        ).cast("decimal(30,12)")

    def _dist(cent):
        total = F.aggregate(
            F.zip_with(F.col("_xa"), cent, _term),
            F.lit(0).cast("decimal(30,12)"),
            lambda acc, t: (acc + t).cast("decimal(30,12)"),
        )
        return F.sqrt(total.cast("double"))

    dists = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            c["label_c"].alias("label_c"), _dist(c["cent"]).alias("dist")
        ),
    )
    xa = emb.select("vec_id", "label", F.expr(pinned).alias("_xa"))
    s = (
        xa.crossJoin(F.broadcast(cents))
        # _d materialized in its OWN projection so the k·64 fold runs
        # once per row (CollapseProject keeps non-cheap exprs split —
        # the _reconstruct/_cov idiom), not once per a/b reference.
        .select("vec_id", "label", dists.alias("_d"))
        .select(
            "vec_id",
            "label",
            F.array_min(
                F.transform(
                    F.filter(
                        F.col("_d"),
                        lambda st: st["label_c"] == F.col("label"),
                    ),
                    lambda st: st["dist"],
                )
            ).alias("a"),
            F.array_min(
                F.transform(
                    F.filter(
                        F.col("_d"),
                        lambda st: st["label_c"] != F.col("label"),
                    ),
                    lambda st: st["dist"],
                )
            ).alias("b"),
        )
    )
    su = F.floor(
        (F.col("b") - F.col("a"))
        / F.greatest("a", "b")
        * F.lit(1000000000.0)
        + F.lit(0.5)
    ).cast("bigint")
    return (
        s.select("label", su.alias("su"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (
                F.floor(F.sum("su").cast("double") / F.count(F.lit(1)) + F.lit(0.5))
                / F.lit(1000000000.0)
            ).alias("silhouette"),
        )
    )


@query(
    "emb_anova_f_topdims",
    oracle="""
    WITH x AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS dim_idx,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
                  / 1000000.0 AS DECIMAL(18,6)) AS xd
      FROM embeddings
    ),
    g AS (
      SELECT dim_idx, label,
             CAST(count(*) AS BIGINT) AS n,
             sum(xd) AS s,
             sum(xd * xd) AS ss
      FROM x GROUP BY dim_idx, label
    ),
    d AS (
      SELECT dim_idx,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(s) AS DOUBLE) AS st,
             CAST(sum(ss) AS DOUBLE) AS sst,
             CAST(sum(CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n
                                 * 1000000000000.0 + 0.5)
                           / 1000000000000.0 AS DECIMAL(30,12)))
                  AS DOUBLE) AS sb_raw
      FROM g GROUP BY dim_idx
    ),
    f AS (
      SELECT dim_idx, k, nt,
             (sb_raw - st * st / nt) AS ssb,
             (sst - sb_raw) AS ssw
      FROM d
    ),
    r AS (
      SELECT dim_idx,
             floor(((ssb / (k - 1)) / (ssw / (nt - k))) * 1000000.0 + 0.5)
               / 1000000.0 AS f_stat
      FROM f WHERE k > 1 AND nt > k AND ssw > 0
    )
    SELECT dim_idx, f_stat,
           CAST(row_number() OVER (ORDER BY f_stat DESC, dim_idx) AS BIGINT)
             AS rk
    FROM r
    ORDER BY rk LIMIT 8
    """,
)
def emb_anova_f_topdims(spark, sf_dir):
    """One-way ANOVA F feature ranking: the 8 embedding dimensions most
    discriminative across class labels — F = (SSB/(k−1))/(SSW/(n−k))
    from per-(dim, label) sufficient statistics, the classic filter-
    method feature selector run before training a probe classifier.
    Everything reduces to exact DECIMAL sums (count, Σx, Σx² per dim per
    label — the emb_centroid contract), so between/within decompositions
    see bit-identical doubles on both engines; each per-label s²/n term
    is rounded half-up into DECIMAL(30,12) before the Σ over labels, so
    the between-group sum is order-free regardless of partition count,
    AQE merge order, or cluster layout (verified exact at both SFs). 100 TB: one
    exploded scan with map-side partials into |dims|·|labels| rows; the
    ranking is a window over |dims| rows."""
    dims = 64
    emb = _t(spark, sf_dir, "embeddings")
    # one SQL-parsed pinned-decimal array (round 15, the
    # emb_centroid_by_label rationale — same tree, ~64× fewer py4j calls)
    pinned = "array(" + ",".join(
        f"cast(floor(cast(element_at(embedding, {i + 1}) as double)"
        " * 1000000.0D + 0.5D) / 1000000.0D as decimal(18,6))"
        for i in range(dims)
    ) + ")"
    x = emb.select(
        "label",
        F.posexplode(F.expr(pinned)).alias("dim_idx", "xd"),
    )
    g = x.groupBy("dim_idx", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xd").alias("s"),
        F.sum(F.col("xd") * F.col("xd")).alias("ss"),
    )
    d = g.groupBy("dim_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("double").alias("st"),
        F.sum("ss").cast("double").alias("sst"),
        # Each per-label s²/n term is rounded half-up into DECIMAL(30,12)
        # BEFORE the sum (ADVICE r4): a plain double accumulation here is
        # order-sensitive across partition/merge layouts, which would let
        # the oracle hash drift with parallelism even though today's
        # fixed-local runs pass — the cusum/silhouette term-pinning
        # contract.
        F.sum(
            round_half_up(
                F.col("s").cast("double")
                * F.col("s").cast("double")
                / F.col("n"),
                12,
            ).cast("decimal(30,12)")
        )
        .cast("double")
        .alias("sb_raw"),
    )
    fdf = d.select(
        "dim_idx",
        "k",
        "nt",
        (F.col("sb_raw") - F.col("st") * F.col("st") / F.col("nt")).alias("ssb"),
        (F.col("sst") - F.col("sb_raw")).alias("ssw"),
    )
    r = fdf.where(
        (F.col("k") > 1) & (F.col("nt") > F.col("k")) & (F.col("ssw") > 0)
    ).select(
        "dim_idx",
        round_half_up(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("nt") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )
    w = Window.orderBy(F.desc("f_stat"), F.asc("dim_idx"))
    return (
        r.select(
            F.col("dim_idx").cast("long").alias("dim_idx"),
            "f_stat",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .orderBy("rk")
        .limit(8)
    )


@query(
    "sim_ivf_recall_eval",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    cent AS (
      SELECT vec_id AS cid, e AS ce FROM v
      WHERE vec_id <> 0 ORDER BY vec_id LIMIT 8
    ),
    scored AS (
      SELECT v.vec_id, v.e, c.cid,
             list_dot_product(v.e, c.ce) /
               (sqrt(list_dot_product(v.e, v.e)) *
                sqrt(list_dot_product(c.ce, c.ce))) AS sim
      FROM v JOIN cent c ON true
      WHERE v.vec_id <> 0
    ),
    assign AS (
      SELECT vec_id, e, cid AS cluster FROM scored
      QUALIFY row_number() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, cid) = 1
    ),
    probe AS (
      SELECT c.cid FROM cent c, q
      ORDER BY list_dot_product(c.ce, q.qe) /
               (sqrt(list_dot_product(c.ce, c.ce)) *
                sqrt(list_dot_product(q.qe, q.qe))) DESC, c.cid
      LIMIT 2
    ),
    ivf AS (
      SELECT a.vec_id,
             round(list_dot_product(a.e, q.qe) /
                   (sqrt(list_dot_product(a.e, a.e)) *
                    sqrt(list_dot_product(q.qe, q.qe))), 6) AS cs
      FROM assign a, q
      WHERE a.cluster IN (SELECT cid FROM probe)
      ORDER BY cs DESC, a.vec_id
      LIMIT 10
    ),
    exact AS (
      SELECT v.vec_id,
             round(list_dot_product(v.e, q.qe) /
                   (sqrt(list_dot_product(v.e, v.e)) *
                    sqrt(list_dot_product(q.qe, q.qe))), 6) AS cs
      FROM v, q WHERE v.vec_id <> 0
      ORDER BY cs DESC, v.vec_id
      LIMIT 10
    )
    SELECT CAST(10 AS BIGINT) AS k,
           (SELECT CAST(count(*) AS BIGINT)
            FROM exact e JOIN ivf i ON e.vec_id = i.vec_id) AS n_hit,
           floor((SELECT count(*) FROM exact e JOIN ivf i
                  ON e.vec_id = i.vec_id) * 1.0 / 10 * 1000000.0 + 0.5)
             / 1000000.0 AS recall_at_10
    """,
)
def sim_ivf_recall_eval(spark, sf_dir):
    """ANN EVAL harness: recall@10 of the IVF probe (8 cells, n_probe=2,
    deterministic fixed-centroid build — the exact-oracled quantizer)
    against the brute-force exact top-10 — the one number that decides
    n_probe/n_clusters in production, here pinned as a first-class
    certified query like the dedup twin (dedup_lsh_recall_eval). The
    eval composes two already-oracled pipelines (ivf_topk and
    brute_force_topk) and joins their id sets; at 100 TB the eval runs
    on a held-out query sample while the brute-force side is the
    documented N-scan ground-truth pass you pay once per tuning
    sweep."""
    from delfos_etl_pipeline_spark.similarity.ivf import (
        build_ivf_index_fixed,
        ivf_topk,
    )
    from delfos_etl_pipeline_spark.similarity.knn import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    corpus = emb.where(F.col("vec_id") != 0)
    assigned, centroids = build_ivf_index_fixed(
        corpus, "vec_id", "embedding", n_clusters=8
    )
    ivf = ivf_topk(
        assigned, centroids, qvec, "vec_id", "embedding", k=10, n_probe=2
    ).select("vec_id")
    exact = brute_force_topk(corpus, qvec, k=10).select("vec_id")
    hit = exact.join(ivf, "vec_id")
    return (
        hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
        .select(
            F.lit(10).cast("bigint").alias("k"),
            "n_hit",
            round_half_up(F.col("n_hit") * F.lit(1.0) / F.lit(10), 6).alias(
                "recall_at_10"
            ),
        )
    )


@query(
    "emb_kmeans_step",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
      FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 8)
    ),
    assign AS (
      SELECT v.vec_id, v.e, c.cid AS cluster
      FROM v JOIN cent c ON true
      QUALIFY row_number() OVER (
        PARTITION BY v.vec_id
        ORDER BY list_dot_product(v.e, c.ce) /
                 (sqrt(list_dot_product(v.e, v.e)) *
                  sqrt(list_dot_product(c.ce, c.ce))) DESC, c.cid) = 1
    ),
    r AS (
      SELECT cluster, generate_subscripts(e, 1) - 1 AS dim_idx,
             CAST(floor(CAST(unnest(e) AS DOUBLE) * 1000000.0 + 0.5)
                  / 1000000.0 AS DECIMAL(18,6)) AS x
      FROM assign
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(dim_idx AS BIGINT) AS dim_idx,
           CAST(count(*) AS BIGINT) AS n,
           floor((CAST(sum(x) AS DOUBLE) / count(*)) * 1000000.0 + 0.5)
             / 1000000.0 AS centroid
    FROM r GROUP BY cluster, dim_idx
    """,
)
def emb_kmeans_step(spark, sf_dir):
    """One exact Lloyd iteration of k-means over the embedding corpus:
    assign every vector to its nearest of 8 deterministic seed
    centroids (the lowest-id embeddings, cosine similarity, lowest-cid
    tie-break — the build_ivf_index_fixed quantizer), then recompute
    per-cluster per-dimension means. This is the distributed primitive
    every vector-index build loop (IVF coarse quantizer, PQ codebook
    training) repeats to convergence; certifying ONE step exactly
    certifies the loop body the seeded-KMeans production path iterates.

    Scale shape: centroids ride as 8 broadcast literal vectors into a
    single corpus scan (argmax over an in-row struct array — no join,
    no shuffle for assignment); the update is ONE 8-key aggregation of
    64 flat decimal sums each (the emb_centroid_by_label contract:
    elements rounded half-up to 6 dp into DECIMAL(18,6) before the
    order-free exact sum), then a posexplode of the 8x64 result only.
    Assignment comparisons are identical IEEE cosine doubles in both
    engines, so the partition of the corpus — and therefore every mean
    — matches bitwise."""
    from delfos_etl_pipeline_spark.similarity.ivf import build_ivf_index_fixed

    emb = _t(spark, sf_dir, "embeddings")
    assigned, _ = build_ivf_index_fixed(emb, n_clusters=8)
    # Round 15 (guide §1 split: 2.06 s of this name's 2.9 s was driver-
    # side CONSTRUCTION — py4j-building 64 wide decimal-sum columns plus
    # two centroid-fetch jobs): the update now uses the posexplode-then-
    # group shape emb_kmeans_train's _means already measured ~3× cheaper
    # to construct — the SAME per-element floor-pin into DECIMAL(18,6)
    # and the same order-free exact sum, grouped by (cluster, dim_idx)
    # instead of 64 wide columns. count(*) per (cluster, dim_idx) equals
    # the cluster's member count (every embedding contributes exactly
    # one element per dimension), so n, every sum, and every mean are
    # bit-identical to the certified wide form; the oracle is unchanged.
    pin = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: (F.floor(x * 1000000.0 + 0.5) / 1000000.0).cast(
            "decimal(18,6)"
        ),
    )
    return (
        assigned.select("cluster", F.posexplode(pin).alias("dim_idx", "x"))
        .groupBy("cluster", "dim_idx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").alias("s"),
        )
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            F.col("dim_idx").cast("bigint").alias("dim_idx"),
            "n",
            round_half_up(F.col("s").cast("double") / F.col("n"), 6).alias(
                "centroid"
            ),
        )
    )


@query(
    "emb_norm_profile",
    oracle="""
    WITH r AS (
      SELECT vec_id, label,
             floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
               / 1000000.0 AS xd
      FROM embeddings
    ), n AS (
      SELECT vec_id, label,
             floor(sqrt(CAST(sum(CAST(floor(xd * xd * 1000000000000.0 + 0.5)
                                      / 1000000000000.0 AS DECIMAL(30,12)))
                             AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
               AS nrm
      FROM r GROUP BY vec_id, label
    ), rk AS (
      SELECT label, vec_id, nrm,
             CAST(row_number() OVER (
               PARTITION BY label ORDER BY nrm, vec_id) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS c
      FROM n
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(max(c) AS BIGINT) AS n_vectors,
           min(nrm) AS norm_min,
           (max(CASE WHEN rn = (c + 1) // 2 THEN nrm END) * 1.0
            + max(CASE WHEN rn = (c + 2) // 2 THEN nrm END)) / 2.0
             AS norm_median,
           max(nrm) AS norm_max
    FROM rk GROUP BY label
    """,
)
def emb_norm_profile(spark, sf_dir):
    """L2-norm distribution per label — the first sanity gate before
    ANY similarity work: cosine-based ANN assumes comparable norms, and
    a label whose median norm sits far from 1 (or whose min is ~0:
    zero vectors) poisons dot-product shortcuts, k-means assignment,
    and quantization ranges alike (emb_scalar_quantize's int8 range is
    calibrated per batch; skewed norms waste its dynamic range).

    Scale shape: one corpus pass explodes elements into a
    per-(vec, label) reduction of pinned element squares (map-side
    combinable, order-free decimal sums), then a label-keyed rank pass
    over the already one-row-per-vector relation. Norms take one identical IEEE sqrt on an
    exact decimal total; the median rank-pins with a vec_id tie-break
    (the orders_median_gap_days contract)."""
    emb = _t(spark, sf_dir, "embeddings")
    r = emb.select(
        "vec_id",
        "label",
        F.explode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * 1000000.0 + 0.5)
                / 1000000.0,
            )
        ).alias("xd"),
    )
    n = r.groupBy("vec_id", "label").agg(
        round_half_up(
            F.sqrt(
                F.sum(
                    round_half_up(F.col("xd") * F.col("xd"), 12).cast(
                        "decimal(30,12)"
                    )
                ).cast("double")
            ),
            6,
        ).alias("nrm")
    )
    wr = Window.partitionBy("label").orderBy("nrm", "vec_id")
    wc = Window.partitionBy("label")
    rk = n.select(
        "label",
        "nrm",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wc).cast("bigint").alias("c"),
    )
    lo = F.max(
        F.when(F.col("rn") == F.floor((F.col("c") + 1) / 2), F.col("nrm"))
    )
    hi = F.max(
        F.when(F.col("rn") == F.floor((F.col("c") + 2) / 2), F.col("nrm"))
    )
    return rk.groupBy("label").agg(
        F.max("c").cast("bigint").alias("n_vectors"),
        F.min("nrm").alias("norm_min"),
        ((lo * 1.0 + hi) / 2.0).alias("norm_median"),
        F.max("nrm").alias("norm_max"),
    ).select(
        F.col("label").cast("bigint").alias("label"),
        "n_vectors",
        "norm_min",
        "norm_median",
        "norm_max",
    )


@query(
    "emb_cosine_hist_sampled",
    oracle="""
    WITH k AS (
      SELECT vec_id, embedding::DOUBLE[] AS e
      FROM embeddings
      ORDER BY ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                 ::BIGINT % 1000000, vec_id
      LIMIT 64
    ), p AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             round(list_dot_product(a.e, b.e) /
                   (sqrt(list_dot_product(a.e, a.e)) *
                    sqrt(list_dot_product(b.e, b.e))), 6) AS cs
      FROM k a JOIN k b ON a.vec_id < b.vec_id
    )
    SELECT CAST(least(floor((cs + 1.0) / 2.0 * 10.0), 9) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(min(cs), 6) AS cs_min,
           round(max(cs), 6) AS cs_max
    FROM p GROUP BY 1
    """,
)
def emb_cosine_hist_sampled(spark, sf_dir):
    """Pairwise-cosine histogram over a deterministic 64-vector sample —
    the embedding-space health check: a healthy corpus puts most random
    pairs near 0 (spread mass); a collapsed encoder (all pairs ~1) or a
    bimodal duplicate-heavy corpus shows up immediately, BEFORE anyone
    trusts ANN recall numbers built on that geometry.

    Scale posture: the quadratic part runs on a SAMPLE chosen by md5
    rank (deterministic, re-runnable, oracle-reproducible — the
    hash-order trick from the sampling family), so the all-pairs join
    is 64x64 regardless of corpus size; the corpus-scale cost is ONE
    TakeOrdered pass to pick the sample. This is the sanctioned shape
    for pairwise diagnostics: never all-pairs on the corpus (that N²
    lives only in declared truth baselines), always all-pairs on a
    bounded deterministic sample. Cosines round half-up at 6 dp;
    bin = least(floor((cs+1)/2*10), 9) is identical integer IEEE in
    both engines."""
    from delfos_etl_pipeline_spark.operators.sampling import hash_bucket
    from delfos_etl_pipeline_spark.similarity.knn import (
        _as_double,
        cosine_similarity_col,
    )

    emb = _t(spark, sf_dir, "embeddings")
    k = (
        emb.orderBy(
            hash_bucket(F.col("vec_id"), 1_000_000), F.col("vec_id")
        )
        .limit(64)
        .select("vec_id", "embedding")
    )
    a = k.select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("ea")
    )
    b = k.select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("eb")
    )
    # F.round (not round_half_up): the sim family's convention — DuckDB's
    # native round() is the oracle twin for irrational cosine values
    # (ties at the 6th decimal are measure-zero for transcendental
    # outputs; round_half_up here would PAIR WRONG with the oracle).
    cs = F.round(
        cosine_similarity_col(_as_double("ea"), _as_double("eb")), 6
    )
    p = (
        a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
        .select(cs.alias("cs"))
    )
    bin_id = F.least(
        F.floor((F.col("cs") + 1.0) / 2.0 * 10.0), F.lit(9.0)
    ).cast("bigint")
    return p.groupBy(bin_id.alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.min("cs"), 6).alias("cs_min"),
        F.round(F.max("cs"), 6).alias("cs_max"),
    )


@query(
    "sim_matryoshka_recall_eval",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    tr AS (
      SELECT v.vec_id
      FROM v, q WHERE v.vec_id <> 0
      ORDER BY round(
          list_dot_product(list_slice(v.e, 1, 16), list_slice(q.qe, 1, 16)) /
          (sqrt(list_dot_product(list_slice(v.e, 1, 16),
                                 list_slice(v.e, 1, 16))) *
           sqrt(list_dot_product(list_slice(q.qe, 1, 16),
                                 list_slice(q.qe, 1, 16)))), 6) DESC,
        v.vec_id
      LIMIT 10
    ),
    exact AS (
      SELECT v.vec_id
      FROM v, q WHERE v.vec_id <> 0
      ORDER BY round(list_dot_product(v.e, q.qe) /
                     (sqrt(list_dot_product(v.e, v.e)) *
                      sqrt(list_dot_product(q.qe, q.qe))), 6) DESC, v.vec_id
      LIMIT 10
    )
    SELECT CAST(10 AS BIGINT) AS k,
           CAST(16 AS BIGINT) AS dims_truncated,
           CAST(count(*) AS BIGINT) AS n_hit,
           floor((count(*) * 1.0 / 10) * 1000000.0 + 0.5) / 1000000.0
             AS recall_at_10
    FROM exact e JOIN tr t ON e.vec_id = t.vec_id
    """,
)
def sim_matryoshka_recall_eval(spark, sf_dir):
    """Matryoshka-truncation eval: recall@10 of searching on just the
    FIRST 16 of 64 embedding dimensions against full-dimension exact
    truth — the measurement behind the modern memory/latency lever
    (MRL-style embeddings are trained so prefixes stay usable; 4x
    fewer bytes per vector means 4x more corpus per executor and 4x
    cheaper dot products in the coarse stage). Same harness contract
    as sim_ivf_recall_eval / dedup_lsh_recall_eval: the candidate
    system and the truth baseline both run under the oracle, so the
    reported recall itself is exact — an eval you can gate a rollout
    on, not an anecdote. Production shape: truncate-then-rerank
    (prefix scan for candidates, full-dim rerank of the short list);
    this certifies stage one's quality."""
    from delfos_etl_pipeline_spark.similarity.knn import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    corpus = emb.where(F.col("vec_id") != 0)
    tr_corpus = corpus.select(
        "vec_id", F.slice("embedding", 1, 16).alias("emb16")
    )
    tr = brute_force_topk(
        tr_corpus, qvec[:16], "vec_id", "emb16", k=10
    ).select("vec_id")
    exact = brute_force_topk(
        corpus, qvec, "vec_id", "embedding", k=10
    ).select("vec_id")
    return exact.join(tr, "vec_id").agg(
        F.lit(10).cast("bigint").alias("k"),
        F.lit(16).cast("bigint").alias("dims_truncated"),
        F.count(F.lit(1)).cast("bigint").alias("n_hit"),
        round_half_up(F.count(F.lit(1)) * 1.0 / F.lit(10), 6).alias(
            "recall_at_10"
        ),
    )


def _kmeans_train_oracle_sql(k: int = 8, n_iters: int = 3) -> str:
    """Unrolled Lloyd loop for emb_kmeans_train — one (assign, pin,
    mean, carry) CTE block per iteration, each the certified
    emb_kmeans_step shape. cent{t+1} coalesces to cent{t} so an empty
    cluster keeps its previous centroid (standard Lloyd), exactly as
    the Spark driver loop does."""
    blocks = [
        f"""
    cent0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
      FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {k})
    )"""
    ]
    for t in range(n_iters):
        blocks.append(f"""
    assign{t} AS (
      SELECT v.vec_id, v.e, c.cid AS cluster
      FROM v JOIN cent{t} c ON true
      QUALIFY row_number() OVER (
        PARTITION BY v.vec_id
        ORDER BY list_dot_product(v.e, c.ce) /
                 (sqrt(list_dot_product(v.e, v.e)) *
                  sqrt(list_dot_product(c.ce, c.ce))) DESC, c.cid) = 1
    ),
    r{t} AS (
      SELECT cluster, generate_subscripts(e, 1) - 1 AS dim_idx,
             CAST(floor(CAST(unnest(e) AS DOUBLE) * 1000000.0 + 0.5)
                  / 1000000.0 AS DECIMAL(18,6)) AS x
      FROM assign{t}
    ),
    m{t} AS (
      SELECT cluster, dim_idx, count(*) AS n,
             floor((CAST(sum(x) AS DOUBLE) / count(*)) * 1000000.0 + 0.5)
               / 1000000.0 AS c
      FROM r{t} GROUP BY cluster, dim_idx
    ),
    cent{t + 1} AS (
      SELECT p.cid, coalesce(nl.ce, p.ce) AS ce
      FROM cent{t} p LEFT JOIN (
        SELECT cluster AS cid, list(c ORDER BY dim_idx) AS ce
        FROM m{t} GROUP BY cluster
      ) nl USING (cid)
    )""")
    last = n_iters - 1
    return (
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e"
        " FROM embeddings),"
        + ",".join(blocks)
        + f"""
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(dim_idx AS BIGINT) AS dim_idx,
           CAST(n AS BIGINT) AS n,
           c AS centroid
    FROM m{last}
    """
    )


@query("emb_kmeans_train", oracle=_kmeans_train_oracle_sql())
def emb_kmeans_train(spark, sf_dir):
    """FULL Lloyd training loop — three exact k-means iterations over
    the embedding corpus (k=8, cosine assignment, lowest-id seeds),
    the loop emb_kmeans_step certifies one body of, run to depth the
    way a production IVF coarse quantizer or PQ codebook actually
    trains. Per iteration: centroids ride as 8 broadcast literal
    vectors into ONE narrow corpus pass (argmax over an in-row struct
    array — no join, no shuffle for assignment), the update is one
    8-key aggregation of 64 pinned-decimal sums, and only the 8×65
    scalar result crosses to the driver to become the next round's
    literals — the canonical distributed-iterative shape (driver-side
    model, executor-side data; lineage stays 3 projections deep, no
    checkpoint needed). Empty clusters keep their previous centroid.
    Cross-engine exactness is inductive: iteration t's means are
    floor-pinned to 6 dp (the emb_kmeans_step contract — elements
    rounded half-up into DECIMAL(18,6) before the order-free exact
    sum, one IEEE division per mean), so iteration t+1's assignment
    compares identical doubles in both engines; the oracle unrolls the
    same three blocks as chained CTEs. Output: the iteration-3
    per-cluster per-dimension means with member counts."""
    from delfos_etl_pipeline_spark.similarity.ivf import (
        assign_fixed_centroids,
    )

    dims, k, n_iters = 64, 8, 3
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # 3 assignment passes + the final consumption: cache the (small
    # relative to its re-scan cost) corpus once.
    emb = emb.persist()
    # one TakeOrderedAndProject job for the k seed vectors (round 15 —
    # the build_ivf_index_fixed single-fetch; vec_id is unique)
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    cents = [
        [float(x) for x in r["embedding"]]
        for r in sorted(rows, key=lambda r: r["vec_id"])
    ]

    def _means(assigned):
        # posexplode-then-group instead of 64 wide agg columns: the
        # same per-element floor-pin and order-free decimal sum (the
        # oracle's r{t}/m{t} shape verbatim), but the expression tree
        # Catalyst re-analyzes every iteration is ONE lambda + one sum
        # — measured ~3x less driver time per iteration at dims=64.
        pin = F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: (F.floor(x * 1000000.0 + 0.5) / 1000000.0).cast(
                "decimal(18,6)"
            ),
        )
        return (
            assigned.select("cluster", F.posexplode(pin).alias("dim_idx", "x"))
            .groupBy("cluster", "dim_idx")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("x").alias("s"),
            )
        )

    for t in range(n_iters):
        means = _means(assign_fixed_centroids(emb, cents))
        if t == n_iters - 1:
            break
        got: dict[int, dict[int, float]] = {}
        for r in means.select(
            "cluster",
            "dim_idx",
            round_half_up(F.col("s").cast("double") / F.col("n"), 6).alias(
                "m"
            ),
        ).collect():
            got.setdefault(r["cluster"], {})[r["dim_idx"]] = r["m"]
        cents = [
            [got[cid][d] for d in range(dims)] if cid in got else cents[cid]
            for cid in range(k)
        ]
    return means.select(
        F.col("cluster").cast("bigint").alias("cluster"),
        F.col("dim_idx").cast("bigint").alias("dim_idx"),
        "n",
        round_half_up(F.col("s").cast("double") / F.col("n"), 6).alias(
            "centroid"
        ),
    )
