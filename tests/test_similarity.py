"""Similarity search: brute-force exactness, LSH bucket soundness."""

import pytest
from pyspark.sql import functions as F

from delfos_etl_pipeline_spark.similarity.knn import (
    all_pairs_topk,
    brute_force_topk,
    lsh_bucketed_topk,
)
from delfos_etl_pipeline_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def qvec(emb):
    return [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]


def test_self_similarity_is_one(emb, qvec):
    top = brute_force_topk(emb, qvec, k=1, round_decimals=6).collect()
    assert top[0].vec_id == 0
    assert top[0].cosine_sim == pytest.approx(1.0, abs=1e-6)


def test_topk_ordering_and_bounds(emb, qvec):
    rows = brute_force_topk(emb.where(F.col("vec_id") != 0), qvec, k=10).collect()
    sims = [r.cosine_sim for r in rows]
    assert len(rows) == 10
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 - 1e-9 <= s <= 1.0 + 1e-9 for s in sims)


def test_lsh_results_subset_of_corpus_truth(emb, qvec):
    """Every LSH hit must carry the same cosine the brute-force scan
    assigns — the approximation only restricts the candidate set."""
    brute = {
        r.vec_id: r.cosine_sim
        for r in brute_force_topk(
            emb.where(F.col("vec_id") != 0), qvec, k=10**6
        ).collect()
    }
    lsh = lsh_bucketed_topk(
        emb.where(F.col("vec_id") != 0), qvec, k=10, n_planes=4
    ).collect()
    assert len(lsh) > 0
    for r in lsh:
        assert brute[r.vec_id] == pytest.approx(r.cosine_sim, abs=1e-6)


def test_all_pairs_topk_shape(emb):
    out = all_pairs_topk(emb.limit(50), k=3)
    rows = out.collect()
    assert len(rows) == 50 * 3
    assert all(1 <= r.rank <= 3 for r in rows)
    assert all(r.id_a != r.id_b for r in rows)


def test_ivf_full_probe_equals_bruteforce(spark, sf_dir):
    """Probing every cell degenerates IVF to exact brute force; fewer
    probes return a subset with identical similarity values."""
    from delfos_etl_pipeline_spark.similarity.ivf import (
        build_ivf_index,
        ivf_topk,
        write_ivf_index,
    )
    from delfos_etl_pipeline_spark.similarity.knn import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    corpus = emb.where(F.col("vec_id") != 0)
    assigned, centroids = build_ivf_index(corpus, n_clusters=8)

    exact = [(r.vec_id, r.cosine_sim) for r in brute_force_topk(corpus, qvec, k=10).collect()]
    full = [
        (r.vec_id, r.cosine_sim)
        for r in ivf_topk(assigned, centroids, qvec, k=10, n_probe=8).collect()
    ]
    assert full == exact

    some = ivf_topk(assigned, centroids, qvec, k=10, n_probe=2).collect()
    exact_sims = dict(exact)
    hits = [r for r in some if r.vec_id in exact_sims]
    for r in hits:
        assert r.cosine_sim == exact_sims[r.vec_id]
    assert len(hits) >= 3  # probing the 2 best of 8 cells keeps most of top-10


def test_ivf_partitioned_index_prunes(spark, sf_dir, tmp_path):
    from delfos_etl_pipeline_spark.similarity.ivf import (
        build_ivf_index,
        ivf_topk,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    assigned, centroids = build_ivf_index(emb.where(F.col("vec_id") != 0), n_clusters=8)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, path)
    back = spark.read.parquet(path)
    got = ivf_topk(back, centroids, qvec, k=10, n_probe=2)
    # the cluster filter must reach the scan as a partition filter
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:200]
    assert "cluster" in seg, f"cluster filter not pushed to partitions: {seg}"
    assert got.count() == 10


def test_blas_reference_guard_raises_on_oversized(emb):
    """The broadcast-BLAS path must refuse a corpus-sized reference side
    instead of collecting it to the driver (VERDICT r3 item 2). The guard
    short-circuits via limit(n+1), so the raise is cheap."""
    from delfos_etl_pipeline_spark.similarity.knn import (
        ReferenceTooLargeError,
        all_pairs_topk_blas,
    )

    with pytest.raises(ReferenceTooLargeError, match="[Ss]hard"):
        all_pairs_topk_blas(emb, k=3, max_ref_rows=10)


def test_blas_guard_disabled_and_under_cap_still_runs(emb):
    from delfos_etl_pipeline_spark.similarity.knn import all_pairs_topk_blas

    small = emb.limit(20)
    under = all_pairs_topk_blas(small, k=2, max_ref_rows=100).collect()
    off = all_pairs_topk_blas(small, k=2, max_ref_rows=None).collect()
    assert sorted(map(tuple, under)) == sorted(map(tuple, off))
    assert len(under) == 20 * 2


def test_sharded_blas_equals_unsharded(emb):
    """The shard loop (reference split into hash shards, per-shard BLAS
    top-k, global re-rank) must reproduce the single-broadcast result
    exactly — same neighbors, same ranks (VERDICT r3 item 2, implemented
    form)."""
    from delfos_etl_pipeline_spark.similarity.knn import (
        all_pairs_topk_blas,
        all_pairs_topk_blas_sharded,
    )

    small = emb.limit(120)
    full = sorted(
        map(tuple, all_pairs_topk_blas(small, k=4).collect())
    )
    sharded = sorted(
        map(tuple, all_pairs_topk_blas_sharded(small, k=4, n_shards=3).collect())
    )
    assert sharded == full
    # and the per-shard collect guard still applies per shard
    from delfos_etl_pipeline_spark.similarity.knn import ReferenceTooLargeError

    with pytest.raises(ReferenceTooLargeError):
        all_pairs_topk_blas_sharded(emb, k=2, n_shards=2, max_ref_rows=5)


def test_sharded_blas_empty_input_returns_empty(spark):
    """Zero-row input must yield an empty typed frame from both sharded
    paths, matching the unsharded forms (review r4 fix)."""
    from delfos_etl_pipeline_spark.dedup.embedding import (
        embedding_near_dup_pairs_sharded,
    )
    from delfos_etl_pipeline_spark.similarity.knn import all_pairs_topk_blas_sharded

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = all_pairs_topk_blas_sharded(empty, k=3, n_shards=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "id_a", "id_b", "cosine_sim", "rank",
    ]
    out2 = embedding_near_dup_pairs_sharded(empty, n_shards=2)
    assert out2.count() == 0
    assert [f.name for f in out2.schema.fields] == ["id_a", "id_b", "cosine_sim"]


def test_pq_encode_decode_consistency_and_recall(spark, sf_dir):
    """PQ sanity: (a) codes are valid indices; (b) a codebook CENTROID
    itself encodes to its own index in every subspace (zero quantization
    error for in-codebook vectors); (c) ADC top-10 by approximate L2
    overlaps the exact Euclidean top-10 well above chance (10/499)."""
    import numpy as np

    from delfos_etl_pipeline_spark.similarity.pq import (
        fit_pq_codebooks_fixed,
        pq_adc_topk,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") != 0)
    books = fit_pq_codebooks_fixed(corpus, m=8, k=16)
    codes = pq_encode(corpus, books)
    code_cols = [f"code_{j}" for j in range(8)]
    pdf = codes.select("vec_id", *code_cols).toPandas()
    assert pdf[code_cols].min().min() >= 0
    assert pdf[code_cols].max().max() <= 15

    # the 16 codebook source vectors are the lowest corpus ids: vector c
    # must encode as (c, c, ..., c)
    low_ids = sorted(pdf.vec_id)[:16]
    for c, vid in enumerate(low_ids):
        row = pdf[pdf.vec_id == vid].iloc[0]
        assert all(row[f"code_{j}"] == c for j in range(8)), (vid, c)

    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    approx = {r.vec_id for r in pq_adc_topk(codes, books, qvec, k=10).collect()}

    vecs = corpus.select("vec_id", "embedding").toPandas()
    mat = np.array([[float(x) for x in v] for v in vecs.embedding])
    d = ((mat - np.array(qvec)) ** 2).sum(axis=1)
    exact = set(vecs.vec_id.iloc[np.argsort(d)[:10]])
    # fixed codebooks are the SQL-reproducibility tier, not the recall
    # tier — expect above-chance overlap only (chance ≈ 10·10/499 ≈ 0.2)
    assert len(approx & exact) >= 1, f"fixed-book recall at chance: {approx}"

    # The robust ADC property (valid even on near-random vectors, where
    # 64-dim distance concentration makes top-k recall noisy by nature):
    # approximate distances must CORRELATE strongly with true distances
    # across the whole corpus, trained books beating the arbitrary fixed
    # ones.
    from delfos_etl_pipeline_spark.similarity.pq import fit_pq_codebooks_kmeans

    truth = dict(zip(vecs.vec_id, d))

    def corr(books):
        cs = pq_encode(corpus, books)
        full = pq_adc_topk(cs, books, qvec, k=10**6).collect()
        a = np.array([r.approx_dist for r in full])
        t = np.array([truth[r.vec_id] for r in full])
        return float(np.corrcoef(a, t)[0, 1])

    tbooks = fit_pq_codebooks_kmeans(corpus, m=8, k=16)
    c_fixed, c_trained = corr(books), corr(tbooks)
    assert c_trained > 0.6, f"trained ADC decorrelated from truth: {c_trained}"
    assert c_trained > c_fixed - 0.05, (c_fixed, c_trained)


def test_pca_projection_properties(spark, sf_dir):
    """Components orthonormal, explained variance decreasing and
    substantial, projection shape correct — and the trained subspace
    captures more energy than any 16 raw axes would on this data."""
    import numpy as np

    from delfos_etl_pipeline_spark.similarity.pca import pca_fit_project

    emb = load_table(spark, sf_dir, "embeddings")
    out, model = pca_fit_project(emb, "vec_id", "embedding", k=16)
    pc = model.pc.toArray()  # (64, 16)
    assert np.allclose(pc.T @ pc, np.eye(16), atol=1e-8)
    ev = np.array(model.explainedVariance)
    assert len(ev) == 16 and (np.diff(ev) <= 1e-12).all() and ev.sum() > 0.2

    pdf = out.toPandas()
    assert set(pdf.out_dim) == set(range(16))
    assert len(pdf) == emb.count() * 16

    # energy captured by PCA-16 >= energy on the best 16 raw axes
    vecs = np.array([
        [float(x) for x in v] for v in emb.select("embedding").toPandas().embedding
    ])
    centered = vecs - vecs.mean(0)
    total = (centered ** 2).sum()
    pca_energy = ((centered @ pc) ** 2).sum()
    axis_energy = np.sort((centered ** 2).sum(0))[-16:].sum()
    assert pca_energy >= axis_energy - 1e-6


def test_pq_index_roundtrip_equals_from_scratch(spark, sf_dir, tmp_path):
    """write_pq_index -> read_pq_index -> ADC must be bit-identical to
    fit+encode+probe in one plan: codes are deterministic per-row
    functions of (corpus, codebooks) and parquet round-trips ints and
    doubles bit-exactly, so persist/restore cannot change a code, a LUT
    term, or the top-k. Also pins the restored codebook sidecar equal to
    the written codebooks and, for the partitionBy(cluster) composed
    form, that the cell filter reaches the scan as a partition filter."""
    from delfos_etl_pipeline_spark.similarity.ivf import build_ivf_index_fixed
    from delfos_etl_pipeline_spark.similarity.pq import (
        fit_pq_codebooks_fixed,
        pq_adc_topk,
        pq_encode,
        read_pq_index,
        write_pq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    corpus = emb.where(F.col("vec_id") != 0)
    books = fit_pq_codebooks_fixed(corpus, m=8, k=16)
    scratch = pq_adc_topk(
        pq_encode(corpus, books), books, qvec, "vec_id", k=10
    ).collect()

    # flat PQ index
    path = str(tmp_path / "pq")
    write_pq_index(pq_encode(corpus, books), books, path)
    codes_r, books_r = read_pq_index(spark, path)
    assert books_r == books  # sidecar round-trips bit-exactly
    restored = pq_adc_topk(codes_r, books_r, qvec, "vec_id", k=10).collect()
    assert restored == scratch
    # simulated restart: a second reader with no lineage to the builder
    codes_r2, books_r2 = read_pq_index(spark, path)
    again = pq_adc_topk(codes_r2, books_r2, qvec, "vec_id", k=10).collect()
    assert again == scratch

    # composed IVF-PQ index: partitionBy(cluster) write, pruned probe
    assigned, cents = build_ivf_index_fixed(corpus, n_clusters=8)
    codes_c = pq_encode(assigned, books).join(
        assigned.select("vec_id", "cluster"), "vec_id"
    )
    cpath = str(tmp_path / "ivfpq")
    write_pq_index(codes_c, books, cpath, partition_col="cluster")
    codes_cr, books_cr = read_pq_index(spark, cpath)
    pruned = codes_cr.where(F.col("cluster").isin([0, 3])).drop("cluster")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:200]
    assert "cluster" in seg, f"cluster filter not pushed to partitions: {seg}"
    # pruned probe == encode-only-those-cells probe (same rows, same codes)
    want = pq_adc_topk(
        pq_encode(
            assigned.where(F.col("cluster").isin([0, 3])), books
        ),
        books,
        qvec,
        "vec_id",
        k=10,
    ).collect()
    got = pq_adc_topk(pruned, books_cr, qvec, "vec_id", k=10).collect()
    assert got == want


def test_pq_trained_fit_single_scan_and_identical(spark, sf_dir):
    """VERDICT r10 item 4: fit_pq_codebooks_kmeans must read the corpus
    ONCE (all m slice projections materialized in one persisted pass),
    and the single-scan form must produce BIT-IDENTICAL codebooks to the
    per-slice-scan form (same seeds, same data, same partitioning)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from delfos_etl_pipeline_spark.similarity.pq import fit_pq_codebooks_kmeans

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    acc = spark.sparkContext.accumulator(0)

    def count_rows(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    counted = emb.mapInPandas(count_rows, schema=emb.schema)
    books = fit_pq_codebooks_kmeans(counted, m=8, k=16)

    # one corpus scan: every row passed the counting boundary exactly once
    # (the persisted slice projection served all 8 subspace fits)
    assert acc.value == n, f"corpus scanned {acc.value / n:.1f}x, want 1x"

    # bit-identical to the old m-scan form
    sub = 64 // 8
    e = F.transform("embedding", lambda x: x.cast("double"))
    for j in range(8):
        feat = emb.select(
            array_to_vector(F.slice(e, j * sub + 1, sub)).alias("_fv")
        )
        model = KMeans(k=16, seed=7 + j, featuresCol="_fv").fit(feat)
        old = [[float(x) for x in c] for c in model.clusterCenters()]
        assert books[j] == old, f"subspace {j} codebook drifted"


def test_pq_corrupt_sidecar_fails_loudly(spark, sf_dir, tmp_path):
    """ADVICE r10: a truncated codebook sidecar must raise at restore
    time, not surface as a None centroid inside the ADC builder."""
    from delfos_etl_pipeline_spark.similarity.pq import (
        fit_pq_codebooks_fixed,
        pq_encode,
        read_pq_index,
        write_pq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = fit_pq_codebooks_fixed(emb, m=8, k=16)
    path = str(tmp_path / "pq_corrupt")
    write_pq_index(pq_encode(emb, books), books, path)

    side = spark.read.parquet(f"{path}/codebooks")
    truncated = side.orderBy("j", "cid").limit(100).collect()
    (
        spark.createDataFrame(truncated, side.schema)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/codebooks")
    )
    with pytest.raises(ValueError, match="corrupt PQ codebook sidecar"):
        read_pq_index(spark, path)


def test_ivf_index_merge_equals_rebuild(spark, sf_dir, tmp_path):
    """merge_into_ivf_index: appending a batch assigned to the FROZEN
    day-0 quantizer must be probe-for-probe identical to rebuilding the
    index from corpus ∪ batch with the same frozen centroids (IVF
    serving semantics — ingest grows cells, never re-trains). Also pins
    that the appended rows landed inside the existing cluster=<cid>
    partition layout (partition pruning survives the merge)."""
    from delfos_etl_pipeline_spark.similarity.ivf import (
        assign_fixed_centroids,
        build_ivf_index_fixed,
        ivf_topk,
        merge_into_ivf_index,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus0 = emb.where(F.col("vec_id") % 3 != 0)
    day1 = emb.where(F.col("vec_id") % 6 == 0)
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]

    assigned0, cents = build_ivf_index_fixed(corpus0, n_clusters=8)
    merged = str(tmp_path / "ivf_merged")
    write_ivf_index(assigned0.select("vec_id", "embedding", "cluster"), merged)
    merge_into_ivf_index(
        assign_fixed_centroids(day1, cents, inline=True).select(
            "vec_id", "embedding", "cluster"
        ),
        merged,
    )
    rebuilt = str(tmp_path / "ivf_rebuilt")
    write_ivf_index(
        assign_fixed_centroids(corpus0.union(day1), cents, inline=True).select(
            "vec_id", "embedding", "cluster"
        ),
        rebuilt,
    )
    got = ivf_topk(
        spark.read.parquet(merged), cents, qvec, k=10, n_probe=8
    ).collect()
    want = ivf_topk(
        spark.read.parquet(rebuilt), cents, qvec, k=10, n_probe=8
    ).collect()
    assert got == want
    # a day-1 vector is actually servable from the merged index
    day1_ids = {r.vec_id for r in day1.select("vec_id").collect()}
    assert day1_ids & {
        r.vec_id for r in spark.read.parquet(merged).collect()
    } == day1_ids
    # the probe still partition-prunes the merged index
    pruned = spark.read.parquet(merged).where(F.col("cluster").isin([0, 3]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cluster" in plan.split("PartitionFilters", 1)[1][:200]


def test_pq_index_merge_equals_rebuild(spark, sf_dir, tmp_path):
    """merge_into_pq_index: appending a batch encoded with the FROZEN
    codebooks must be probe-for-probe identical to re-encoding
    corpus ∪ batch from scratch with the same codebooks — for both the
    flat and the partitionBy(cluster) IVF-PQ layouts."""
    from delfos_etl_pipeline_spark.similarity.ivf import (
        assign_fixed_centroids,
        build_ivf_index_fixed,
    )
    from delfos_etl_pipeline_spark.similarity.pq import (
        fit_pq_codebooks_fixed,
        merge_into_pq_index,
        pq_adc_topk,
        pq_encode,
        read_pq_index,
        write_pq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus0 = emb.where(F.col("vec_id") % 3 != 0)
    day1 = emb.where(F.col("vec_id") % 6 == 0)
    union = corpus0.union(day1)
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    books = fit_pq_codebooks_fixed(corpus0, m=8, k=16)

    # flat layout
    path = str(tmp_path / "pq_m")
    write_pq_index(pq_encode(corpus0, books), books, path)
    merge_into_pq_index(pq_encode(day1, books), path)
    codes_r, books_r = read_pq_index(spark, path)
    assert books_r == books
    got = pq_adc_topk(codes_r, books_r, qvec, "vec_id", k=10).collect()
    want = pq_adc_topk(pq_encode(union, books), books, qvec, "vec_id", k=10).collect()
    assert got == want

    # IVF-PQ layout: frozen day-0 centroids, appended rows partition-pruned
    assigned0, cents = build_ivf_index_fixed(corpus0, n_clusters=8)
    cpath = str(tmp_path / "ivfpq_m")
    write_pq_index(
        pq_encode(assigned0, books).join(
            assigned0.select("vec_id", "cluster"), "vec_id"
        ),
        books,
        cpath,
        partition_col="cluster",
    )
    a1 = assign_fixed_centroids(day1, cents, inline=True)
    merge_into_pq_index(
        pq_encode(a1, books).join(a1.select("vec_id", "cluster"), "vec_id"),
        cpath,
        partition_col="cluster",
    )
    codes_c, books_c = read_pq_index(spark, cpath)
    au = assign_fixed_centroids(union, cents, inline=True)
    pruned = codes_c.where(F.col("cluster").isin([0, 3])).drop("cluster")
    want_c = pq_adc_topk(
        pq_encode(au.where(F.col("cluster").isin([0, 3])), books),
        books, qvec, "vec_id", k=10,
    ).collect()
    got_c = pq_adc_topk(pruned, books_c, qvec, "vec_id", k=10).collect()
    assert got_c == want_c
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_pca_power_projection_properties(spark, sf_dir):
    """The deterministic power-iteration tier (emb_project_pca's
    engine): near-orthonormal components (GS deflation at integer
    precision), energy ≥ the best-16-raw-axes baseline and ≥ 90% of the
    true top-16 subspace energy, and the integer iteration reproduced
    bit-for-bit from the collected scatter (determinism contract)."""
    import numpy as np

    from delfos_etl_pipeline_spark.similarity.pca import (
        PCA_POWER_SCALE,
        pca_power_fit_project,
        pca_power_iterate,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out, comps = pca_power_fit_project(emb, "vec_id", "embedding", k=16)
    V = np.array(comps, dtype=float) / PCA_POWER_SCALE
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    assert np.abs(Vn @ Vn.T - np.eye(16)).max() < 1e-6

    pdf = out.toPandas()
    n = emb.count()
    assert set(pdf.out_dim) == set(range(16))
    assert len(pdf) == n * 16

    vecs = np.array(
        [[float(x) for x in v]
         for v in emb.select("embedding").toPandas().embedding]
    )
    centered = vecs - vecs.mean(0)
    pe = ((centered @ Vn.T) ** 2).sum()
    ax = np.sort((centered ** 2).sum(0))[-16:].sum()
    assert pe >= ax - 1e-6
    sv = np.linalg.svd(centered, compute_uv=False)
    assert pe >= 0.90 * (sv[:16] ** 2).sum()

    # sign pin: first nonzero coordinate of every component positive
    for u in comps:
        nz = next(x for x in u if x != 0)
        assert nz > 0
    # determinism: a second full fit reproduces the integer components
    # exactly (no RNG, no float accumulation anywhere in the fit)
    _, comps2 = pca_power_fit_project(emb, "vec_id", "embedding", k=16)
    assert comps2 == comps

def test_assign_engines_bit_identical(spark, sf_dir):
    """The three assign_fixed_centroids engines (lambda-expr,
    inline-expr, Arrow matmul) must agree BIT-FOR-BIT on every
    assignment — the large-k form (VERDICT r13 item 4) is a physical
    rewrite, not an approximation: same sequential-fold association,
    same IEEE doubles, same lowest-cid tie-break. Checked at k=40
    (above _INLINE_MAX_CELLS, so 'auto' routes to matmul) over the real
    embeddings, plus a crafted duplicate-centroid tie."""
    from delfos_etl_pipeline_spark.similarity.ivf import (
        _INLINE_MAX_CELLS,
        assign_fixed_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    k = 40
    assert k > _INLINE_MAX_CELLS
    rows = sorted(
        emb.orderBy("vec_id").limit(k).collect(), key=lambda r: r["vec_id"]
    )
    cents = [[float(x) for x in r["embedding"]] for r in rows]

    def got(**kw):
        return sorted(
            (r["vec_id"], r["cluster"])
            for r in assign_fixed_centroids(emb, cents, **kw)
            .select("vec_id", "cluster").collect()
        )

    lam = got(engine="expr", inline=False)
    inl = got(engine="expr", inline=True)
    mm = got(engine="matmul")
    auto = got()  # k=40 > threshold: auto must route to matmul
    assert lam == inl == mm == auto
    # real spread: the 40 cells are actually used, not degenerate
    assert len({c for _, c in mm}) > 10

    # ties: duplicate centroids give identical sims; every engine must
    # resolve to the LOWEST cid (array_max lexicographic == np.argmax
    # first-max)
    dup = [cents[0]] * 3 + [cents[1]] * 2
    for eng, kw in (
        ("lambda", dict(engine="expr", inline=False)),
        ("inline", dict(engine="expr", inline=True)),
        ("matmul", dict(engine="matmul")),
    ):
        out = {
            r["vec_id"]: r["cluster"]
            for r in assign_fixed_centroids(emb.limit(50), dup, **kw)
            .select("vec_id", "cluster").collect()
        }
        assert set(out.values()) <= {0, 3}, (eng, set(out.values()))

def test_pq_encode_engines_bit_identical(spark, sf_dir):
    """The two pq_encode engines (expression, Arrow matmul) must agree
    bit-for-bit on every code — same sequential-fold doubles, same
    (ss − 2·dot) + cc association, same lowest-cid tie-break. Checked at
    k=40 (above _EXPR_MAX_CENTROIDS, so 'auto' routes to matmul) over
    the real embeddings, plus a duplicate-centroid tie."""
    from delfos_etl_pipeline_spark.similarity.pq import (
        _EXPR_MAX_CENTROIDS,
        fit_pq_codebooks_fixed,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    k = 40
    assert k > _EXPR_MAX_CENTROIDS
    books = fit_pq_codebooks_fixed(emb, m=8, k=k, dim=64)

    def got(**kw):
        return sorted(
            tuple(r) for r in pq_encode(emb, books, **kw).collect()
        )

    expr = got(engine="expr")
    mm = got(engine="matmul")
    auto = got()  # k=40: auto must route to matmul
    assert expr == mm == auto
    # codes actually spread across the 40 centroids
    spread = {c for row in mm for c in row[1:]}
    assert len(spread) > 10

    # ties: duplicated codebook entries — both engines pick the LOWEST
    # cid (array_min lexicographic == np.argmin first-min)
    dup_books = [[book[0]] * 3 + [book[1]] * 2 for book in books]
    dup_out = {}
    for eng in ("expr", "matmul"):
        out = sorted(
            tuple(r)
            for r in pq_encode(
                emb.limit(50), dup_books, engine=eng
            ).collect()
        )
        codes = {c for row in out for c in row[1:]}
        assert codes <= {0, 3}, (eng, codes)
        dup_out[eng] = out
    # cross-engine equality ON THE TIE CASE itself (ADVICE r14: the old
    # final assert re-evaluated the original books, re-proving the
    # assertion already made above)
    assert dup_out["expr"] == dup_out["matmul"]


def test_pq_encode_engines_agree_on_nonfinite(spark):
    """NaN/Inf embeddings must encode identically on both engines
    (ADVICE r14): the expression form's array_min orders NaN GREATEST
    (a NaN distance is never selected unless all are), while a bare
    np.argmin returns the FIRST NaN index — _pq_encode_matmul masks
    NaN→+inf before argmin to restore the equality. A NaN element
    poisons every distance in its subspace (all-NaN → lowest-cid
    tie-break on both engines); an Inf element yields the same IEEE
    inf/NaN pattern on both sides, masked identically."""
    import math

    from delfos_etl_pipeline_spark.similarity.pq import (
        _EXPR_MAX_CENTROIDS,
        pq_encode,
    )

    m, sub, k = 2, 2, _EXPR_MAX_CENTROIDS + 1
    books = [
        [[float(c + j), float(c - j)] for c in range(k)] for j in range(m)
    ]
    rows = [
        (1, [0.5, 1.5, 2.5, 3.5]),          # finite control row
        (2, [float("nan"), 1.0, 2.0, 3.0]),  # NaN poisons subspace 0
        (3, [1.0, 2.0, math.inf, 4.0]),      # Inf in subspace 1
        (4, [float("nan")] * 4),             # all-NaN: lowest-cid ties
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def got(engine):
        return sorted(
            tuple(r)
            for r in pq_encode(
                df, books, "vec_id", "embedding", engine=engine
            ).collect()
        )

    expr, mm = got("expr"), got("matmul")
    assert expr == mm
    # the all-NaN row resolves to code 0 in every subspace on BOTH sides
    all_nan = [row for row in mm if row[0] == 4][0]
    assert all(c == 0 for c in all_nan[1:])


def test_silhouette_matches_oracle_on_ragged_and_null_embeddings(spark, tmp_path):
    """emb_silhouette_centroid on embeddings that are short, NULL, empty,
    all-NULL or hold a NULL element equals its DuckDB oracle exactly: a
    missing dimension is skipped as the oracle's unnest + sum skips it,
    and a NULL or empty embedding has no score."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from delfos_etl_pipeline_spark.queries import oracle_sql, queries

    rng = np.random.default_rng(7)
    vecs = []
    for i in range(60):
        v = [float(x) for x in rng.normal(i % 3, 1.0, 40 if i % 7 == 1 else 64)]
        if i % 11 == 2:
            v[5] = None
        vecs.append(v)
    vecs[9], vecs[20], vecs[31] = None, [], [None] * 64
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "label": pa.array(["abc"[i % 3] for i in range(len(vecs))]),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
            }
        ),
        path,
    )
    name = "emb_silhouette_centroid"
    got = sorted(
        tuple(r) for r in queries()[name](spark, str(tmp_path)).select("label", "n", "silhouette").collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    want = sorted(con.execute(f"SELECT label, n, silhouette FROM ({oracle_sql()[name]})").fetchall())
    assert got == want
    assert sum(n for _, n, _ in got) == len(vecs) - 2  # NULL and empty rows have no score
