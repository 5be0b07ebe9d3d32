"""Deduplication family: exact, n-gram Jaccard, MinHash-LSH, SimHash, embedding cosine/LSH, connected-components clusters, incremental batch probe (SURVEY §7 M5).

Split from the monolithic queries.py registry (round 4); behavior
unchanged — importing this module registers its queries.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from delfos_etl_pipeline_spark.functions.stable import round_half_up
from delfos_etl_pipeline_spark.queries._registry import _t, query
from delfos_etl_pipeline_spark.session import local_frame

# ---------------------------------------------------------------------------
# Dedup — training-data-pipeline extensions (SURVEY §7 M5)
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup summary: one surviving id + multiplicity per distinct
    document text (hash-groupBy, single shuffle)."""
    from delfos_etl_pipeline_spark.dedup.exact import exact_dedup_summary

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_summary(docs, ["text"], "doc_id").select("doc_id", "n_copies")


@query(
    "dedup_exact_rows",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    """,
)
def dedup_exact_rows(spark, sf_dir):
    """Exact dedup keeping full surviving rows — deterministic min-id
    winner (vs Spark's nondeterministic dropDuplicates). Shuffles a 16-byte
    md5 key, not the document body."""
    from delfos_etl_pipeline_spark.dedup.exact import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], "doc_id", hash_key=True).select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM words, unnest(generate_series(1, greatest(len(w)-2, 0))) AS t(i)
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           round(shared * 1.0 / (sa.sz + sb.sz - shared), 6) AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE round(shared * 1.0 / (sa.sz + sb.sz - shared), 6) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by EXACT word-3-gram Jaccard ≥ 0.6 — the correctness
    baseline for the approximate detectors (minhash/simhash)."""
    from delfos_etl_pipeline_spark.dedup.ngram import jaccard_pairs, shingle_sets

    docs = _t(spark, sf_dir, "documents")
    return jaccard_pairs(
        shingle_sets(docs, "doc_id", "text", n=3, hashed=True, with_size=True),
        threshold=0.6,
    )


@query(
    "dedup_jaccard_prefix",
    oracle="""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM words, unnest(generate_series(1, greatest(len(w)-2, 0))) AS t(i)
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           round(shared * 1.0 / (sa.sz + sb.sz - shared), 6) AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE round(shared * 1.0 / (sa.sz + sb.sz - shared), 6) >= 0.6
    """,
)
def dedup_jaccard_prefix(spark, sf_dir):
    """EXACT Jaccard ≥ 0.6 pairs via PREFIX FILTERING (PPJoin family) —
    candidates only from each document's rarest-first prefix shingles
    plus a size filter, then exact verification. The oracle is the
    UNFILTERED all-pairs Jaccard (identical SQL to dedup_ngram_jaccard),
    so the exact hash match proves the prefix+length pruning is
    LOSSLESS — the scale answer for exact similarity joins when
    MinHash's approximation isn't acceptable; see
    dedup/ngram.py::jaccard_pairs_prefix for the candidate-complexity
    argument."""
    from delfos_etl_pipeline_spark.dedup.ngram import jaccard_pairs_prefix

    docs = _t(spark, sf_dir, "documents")
    return jaccard_pairs_prefix(docs, "doc_id", "text", n=3, threshold=0.6)


_CLUSTERS_ORACLE = """
    WITH RECURSIVE words AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM words, unnest(generate_series(1, greatest(len(w)-2, 0))) AS t(i)
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT p.doc_a, p.doc_b
      FROM cand p
      JOIN sizes sa ON p.doc_a = sa.doc_id
      JOIN sizes sb ON p.doc_b = sb.doc_id
      WHERE round(shared * 1.0 / (sa.sz + sb.sz - shared), 6) >= 0.6
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), reach(node, comp) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    ), comp AS (
      SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node
    )
    SELECT c.node AS doc_id, c.cluster_id, s.cluster_size
    FROM comp c
    JOIN (SELECT cluster_id, count(*) AS cluster_size
          FROM comp GROUP BY cluster_id) s USING (cluster_id)
    """


@query("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark, sf_dir):
    """Duplicate GROUPS, not pairs: transitive closure of the exact
    near-dup pair list via iterative min-label propagation
    (dedup/clusters.py) — each round one join + one min-agg, fixpoint in
    O(graph diameter) rounds. The oracle computes the same closure as a
    recursive CTE, making this iterative (non-single-SQL-statement on the
    Spark side) operator exactly checkable."""
    from delfos_etl_pipeline_spark.dedup.clusters import duplicate_clusters
    from delfos_etl_pipeline_spark.dedup.ngram import jaccard_pairs, shingle_sets

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        shingle_sets(docs, "doc_id", "text", n=3, hashed=True, with_size=True),
        threshold=0.6,
    )
    return duplicate_clusters(pairs)


@query("dedup_clusters_bigstar", oracle=_CLUSTERS_ORACLE)
def dedup_clusters_bigstar(spark, sf_dir):
    """Same duplicate-group closure as dedup_clusters, computed by the
    large-star/small-star alternation (Kiveris et al., SoCC'14;
    dedup/clusters.py::connected_components_star) instead of min-label
    propagation. O(log² n) rounds regardless of component diameter — the
    web-scale path for giant components that label propagation's
    O(diameter) rounds can't handle — against the identical recursive-CTE
    oracle, so both algorithms are exactly certified on the same graph."""
    from delfos_etl_pipeline_spark.dedup.clusters import duplicate_clusters
    from delfos_etl_pipeline_spark.dedup.ngram import jaccard_pairs, shingle_sets

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        shingle_sets(docs, "doc_id", "text", n=3, hashed=True, with_size=True),
        threshold=0.6,
    )
    return duplicate_clusters(pairs, algorithm="star")


@query(
    "dedup_fuzzy_levenshtein",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text) AS edit_distance
    FROM documents a JOIN documents b
      ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 20
    WHERE levenshtein(a.text, b.text) <= 50
    """,
)
def dedup_fuzzy_levenshtein(spark, sf_dir):
    """Character-level fuzzy matching: bounded edit distance over BLOCKED
    candidate pairs — the classic blocking strategy (equi-join on
    (source, lang) plus a length band prunes the O(n²) pair space to the
    plausible few) before the expensive O(len²) distance. Spark's
    3-argument levenshtein bails out early once the running distance
    exceeds the threshold, so the per-pair cost is bounded too. The
    string tier of the dedup family, complementing the token-shingle
    (Jaccard) and semantic (embedding) tiers."""
    d = _t(spark, sf_dir, "documents")
    a = d.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"),
        "source", "lang", F.col("n_chars").alias("nc_a"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"),
        "source", "lang", F.col("n_chars").alias("nc_b"),
    )
    ed = F.levenshtein("text_a", "text_b", 50)
    return (
        a.join(b, ["source", "lang"])
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("nc_a") - F.col("nc_b")) <= 20)
        )
        # BIGINT: Spark levenshtein is INT, DuckDB's is BIGINT (the
        # driver compares dtype width).
        .select("doc_a", "doc_b", ed.cast("long").alias("edit_distance"))
        .where(F.col("edit_distance") >= 0)
    )


@query(
    "dedup_minhash_lsh",
    oracle="""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS words
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 0) + 1),
               i -> array_to_string(list_slice(words, i, i + 2), ' ')
             )) AS shingles
      FROM d
    ),
    sig AS (
      SELECT doc_id,
             list_transform(range(0, 64), i ->
               list_min(list_transform(shingles,
                 s -> md5(i::VARCHAR || '|' || s)))) AS sg
      FROM sh WHERE len(shingles) > 0
    ),
    bands AS (
      SELECT doc_id, band,
             md5(array_to_string(
               list_slice(sg, band * 4 + 1, band * 4 + 4), '|')) AS bucket
      FROM sig, unnest(range(0, 16)) AS t(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id
    ),
    j AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(x.shingles, y.shingles)) AS shared,
             len(x.shingles) AS sa, len(y.shingles) AS sb
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           round(shared * 1.0 / (sa + sb - shared), 6) AS jaccard
    FROM j
    WHERE round(shared * 1.0 / (sa + sb - shared), 6) >= 0.6
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(64)+LSH(16 bands) candidates verified by exact Jaccard ≥0.6
    — the 100 TB-scale near-dup path; compared against dedup_ngram_jaccard
    in tests/test_dedup.py. Registered in md5-keyed mode so the ENTIRE
    pipeline — signatures, band buckets, candidate set, verify — is
    reproduced bit-exactly by the DuckDB oracle (lexicographic min over
    md5 hex digests); bench/production use the xxhash64 keying."""
    from delfos_etl_pipeline_spark.dedup.minhash import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6, hash_fn="md5"
    )


# From-scratch SQL replay of the md5-keyed incremental MinHash dedup —
# shared by dedup_incremental_batch (in-memory corpus subtree) and
# dedup_minhash_incremental_indexed (corpus side RESTORED from the
# persisted write_minhash_index materialization): band buckets and
# shingle arrays are deterministic corpus functions, so both forms must
# hash identically against the same replay.
_INCR_MINHASH_ORACLE = """
    WITH d AS (
      SELECT doc_id, doc_id % 3 = 0 AS is_new,
             regexp_split_to_array(lower(text), '\\s+') AS words
      FROM documents
    ),
    sh AS (
      SELECT doc_id, is_new,
             list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 0) + 1),
               i -> array_to_string(list_slice(words, i, i + 2), ' ')
             )) AS shingles
      FROM d
    ),
    sig AS (
      SELECT doc_id, is_new,
             list_transform(range(0, 64), i ->
               list_min(list_transform(shingles,
                 s -> md5(i::VARCHAR || '|' || s)))) AS sg
      FROM sh WHERE len(shingles) > 0
    ),
    bands AS (
      SELECT doc_id, is_new, band,
             md5(array_to_string(
               list_slice(sg, band * 4 + 1, band * 4 + 4), '|')) AS bucket
      FROM sig, unnest(range(0, 16)) AS t(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_old
      FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.is_new AND NOT b.is_new
    ),
    j AS (
      SELECT c.doc_new, c.doc_old,
             len(list_intersect(x.shingles, y.shingles)) AS shared,
             len(x.shingles) AS sa, len(y.shingles) AS sb
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_new
      JOIN sh y ON y.doc_id = c.doc_old
    )
    SELECT doc_new, doc_old,
           round(shared * 1.0 / (sa + sb - shared), 6) AS jaccard
    FROM j
    WHERE round(shared * 1.0 / (sa + sb - shared), 6) >= 0.6
    """


@query("dedup_incremental_batch", oracle=_INCR_MINHASH_ORACLE)
def dedup_incremental_batch(spark, sf_dir):
    """Incremental near-dedup — the nightly-ingest shape: flag NEW batch
    documents (doc_id % 3 == 0 as the stand-in arrival batch) that are
    near-dups of the EXISTING corpus (the rest), via MinHash band buckets
    joined batch×corpus only (never corpus×corpus), verified with exact
    Jaccard ≥ 0.6. md5-keyed so the whole pipeline — signatures, band
    buckets, cross-corpus candidates, verify — is reproduced bit-exactly
    by the oracle; production uses xxhash64 keying and persists the
    corpus-side buckets once per corpus version
    (dedup/minhash.py minhash_lsh_pairs_incremental)."""
    from delfos_etl_pipeline_spark.dedup.minhash import (
        minhash_lsh_pairs_incremental,
    )

    docs = _t(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 3 == 0)
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    return minhash_lsh_pairs_incremental(
        batch, corpus, "doc_id", "text", n=3, threshold=0.6, hash_fn="md5"
    )


#: dedup_minhash_incremental_indexed's persisted LSH index, one per
#: (process, sf_dir) — build-once/probe-many, like _GRAM_INDEX_WORKDIRS.
_MINHASH_INDEX_WORKDIRS: dict[str, str] = {}


def ensure_minhash_index(spark, sf_dir: str) -> str:
    """Build-once accessor for the standing corpus's persisted MinHash
    index (band buckets + shingle arrays, md5 keying, doc_id % 3 != 0
    split): returns the index path, writing it on first call per
    (process, corpus). Shared by dedup_minhash_incremental_indexed and
    the composed nightly-ingest flagship (curate_nightly_ingest) so the
    composition certifies against the SAME materialization the
    single-stage query certifies."""
    import atexit
    import os
    import shutil
    import tempfile

    from delfos_etl_pipeline_spark.dedup.minhash import write_minhash_index

    workdir = _MINHASH_INDEX_WORKDIRS.get(sf_dir)
    if workdir is None:
        docs = _t(spark, sf_dir, "documents")
        corpus = docs.where(F.col("doc_id") % 3 != 0)
        workdir = tempfile.mkdtemp(prefix="minhash_index_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        write_minhash_index(
            corpus, os.path.join(workdir, "lsh"), "doc_id", "text",
            n=3, hash_fn="md5",
        )
        _MINHASH_INDEX_WORKDIRS[sf_dir] = workdir
    return os.path.join(workdir, "lsh")


@query("dedup_minhash_incremental_indexed", oracle=_INCR_MINHASH_ORACLE)
def dedup_minhash_incremental_indexed(spark, sf_dir):
    """Incremental MinHash near-dedup against a PERSISTED corpus index —
    the materialization dedup_incremental_batch's docstring promises
    ("buckets persisted once per corpus version in production",
    VERDICT r8 item 6), exercised end to end: the standing corpus's band
    buckets AND shingle arrays are written to parquet ONCE per
    (process, corpus) via write_minhash_index, and the arriving batch
    (doc_id % 3 == 0, the same stand-in split) probes the RESTORED
    relations — the standing corpus is never re-tokenized, re-hashed, or
    re-banded on the nightly path. Shares dedup_incremental_batch's
    from-scratch SQL oracle, so the hash match certifies that
    materialize -> restore -> probe is bit-identical to rebuilding
    (tests/test_dedup.py pins the same equality across a simulated
    restart). md5 keying here for the oracle; production flips to
    xxhash64 (8-byte fixed-width index, same plan). Scale: the index is
    corpus-linear, band-clustered at write; each nightly batch pays its
    own shingle/signature build + one bucket-keyed join + a
    candidate-bounded verify."""
    from delfos_etl_pipeline_spark.dedup.minhash import (
        minhash_lsh_pairs_indexed,
    )

    docs = _t(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 3 == 0)
    return minhash_lsh_pairs_indexed(
        batch, ensure_minhash_index(spark, sf_dir), "doc_id", "text",
        n=3, threshold=0.6, hash_fn="md5",
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.4
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cosine ≥ 0.4): broadcast the
    normalized reference matrix, one BLAS matmul per Arrow batch, emit
    each unordered pair once (dedup/embedding.py). The semantic tier of
    the dedup family; the testdata embeddings are synthetic/near-uniform
    so the threshold sits in the far tail rather than at a realistic 0.9."""
    from delfos_etl_pipeline_spark.dedup.embedding import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.4)


def _embedding_lsh_oracle_sql(
    n_bands: int = 4,
    planes_per_band: int = 8,
    dim: int = 64,
    threshold: float = 0.4,
) -> str:
    """SQL twin of dedup.embedding.embedding_near_dup_pairs_lsh: the
    hyperplanes are deterministic (same seeded integer mix as the Spark
    side), so band buckets — and therefore the approximate candidate set —
    are exactly reproducible. Valid while no (band, bucket) group exceeds
    the salt cap (max occupancy ≈28 across the sf0.001–0.1 corpora vs the
    1000 default), so the salt column is identically 0 on both sides."""
    from delfos_etl_pipeline_spark.similarity.knn import _hyperplane

    planes = _hyperplane(n_bands * planes_per_band, dim)
    bands = []
    for j in range(n_bands):
        terms = " + ".join(
            f"{1 << i} * (CASE WHEN list_dot_product(e, {planes[j * planes_per_band + i]}) > 0 THEN 1 ELSE 0 END)"
            for i in range(planes_per_band)
        )
        bands.append(f"({terms})")
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    b AS (SELECT vec_id, e, [{", ".join(bands)}] AS bks FROM v),
    bb AS (
      SELECT vec_id, band, bks[band + 1] AS bucket
      FROM b, unnest(range(0, {n_bands})) AS t(band)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
      FROM bb a JOIN bb c ON a.band = c.band AND a.bucket = c.bucket
      WHERE a.vec_id < c.vec_id
    ),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v)
    SELECT c.id_a, c.id_b,
           round(list_dot_product(x.e, y.e) / (x.nrm * y.nrm), 6) AS cosine_sim
    FROM cand c
    JOIN n x ON x.vec_id = c.id_a
    JOIN n y ON y.vec_id = c.id_b
    WHERE round(list_dot_product(x.e, y.e) / (x.nrm * y.nrm), 6) >= {threshold}
    """


@query("dedup_embedding_lsh", oracle=_embedding_lsh_oracle_sql())
def dedup_embedding_lsh(spark, sf_dir):
    """Banded hyperplane-LSH near-dup pairs (cosine ≥ 0.4) — the
    PRODUCTION corpus-scale path the bench headlines, registered under the
    same name so the correctness row certifies the benched code. 4 bands ×
    8 planes, salted occupancy cap (inactive at these corpus sizes — see
    oracle docstring), exact cosine verify on candidates."""
    from delfos_etl_pipeline_spark.dedup.embedding import (
        embedding_near_dup_pairs_lsh,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs_lsh(emb, "vec_id", "embedding", threshold=0.4)


@query("dedup_minhash_lsh_prod")
def dedup_minhash_lsh_prod(spark, sf_dir):
    """dedup_minhash_lsh's PRODUCTION keying (xxhash64 signatures/buckets;
    8-byte keys, no hex materialization) — registered so the benched path
    has its own correctness row. xxhash64 is not reproducible in DuckDB,
    so this is a rows-only check; the md5-keyed twin (dedup_minhash_lsh)
    proves the identical pipeline bit-exactly, and tests/test_dedup.py
    pins both keyings to the same verified-Jaccard pair semantics."""
    from delfos_etl_pipeline_spark.dedup.minhash import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", n=3, threshold=0.6)


@query("dedup_simhash_prod")
def dedup_simhash_prod(spark, sf_dir):
    """dedup_simhash's PRODUCTION keying (one xxhash64 per word vs 16 md5
    nibble extractions). Rows-only for the same reason as
    dedup_minhash_lsh_prod; the md5-keyed twin carries the exact oracle."""
    from delfos_etl_pipeline_spark.dedup.simhash import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", hamming_max=3)


# SimHash oracle building blocks — 16 md5 nibbles per word, 64 signed bit
# sums per doc, then per-pair Hamming over the sign bits. Generated rather
# than hand-written: 64 structurally identical clauses.
_SIMHASH_NIBS = ", ".join(
    f"strpos('0123456789abcdef', substr(md5(word), {c + 1}, 1)) - 1 AS n{c}"
    for c in range(16)
)
_SIMHASH_SUMS = ", ".join(
    f"sum(CASE WHEN ((n{i // 4} >> {i % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS s{i}"
    for i in range(64)
)
_SIMHASH_BITS = ", ".join(f"CASE WHEN s{i} > 0 THEN 1 ELSE 0 END" for i in range(64))


@query(
    "dedup_simhash",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
      FROM documents
    ),
    nib AS (SELECT doc_id, {_SIMHASH_NIBS} FROM words),
    sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM nib GROUP BY doc_id),
    bits AS (SELECT doc_id, [{_SIMHASH_BITS}] AS b FROM sums),
    pairs AS (
      SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
             CAST(list_sum(list_transform(range(1, 65),
               i -> abs(a.b[i] - c.b[i]))) AS INTEGER) AS hamming
      FROM bits a JOIN bits c ON a.doc_id < c.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash-64 near-dup pairs with Hamming ≤ 3 via pigeonhole banding
    (exact w.r.t. the signature, no recall loss). Registered in md5-keyed
    mode (bit i of a word = bit i%4 of md5 hex nibble i//4) so the DuckDB
    oracle recomputes identical signatures; the oracle verifies the banded
    join against a brute-force all-pairs Hamming filter — banding must
    lose nothing. xxhash64 keying stays the bench/production default."""
    from delfos_etl_pipeline_spark.dedup.simhash import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", hamming_max=3, hash_fn="md5")


def _pagerank_oracle(iters: int = 3) -> str:
    """Unroll the fixed-iteration damped power iteration into chained
    CTEs over the same near-dup edge list as _CLUSTERS_ORACLE — each
    round applies the identical double-compute/half-up-round-to-
    DECIMAL(18,12) contract as operators/graph.py::pagerank."""
    edges = _CLUSTERS_ORACLE[: _CLUSTERS_ORACLE.index("), reach")] + ")"
    r12 = lambda x: (  # noqa: E731
        f"CAST(floor(({x}) * 1000000000000.0 + 0.5) / 1000000000000.0"
        " AS DECIMAL(18,12))"
    )
    sql = edges + f""",
    deg AS (
      SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
      FROM edges GROUP BY a
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
    pr0 AS (
      SELECT node, deg, {r12("1.0 / n")} AS pr FROM deg, nn
    )"""
    for t in range(1, iters + 1):
        sql += f""",
    c{t} AS (
      SELECT e.a AS node,
             {r12(f"CAST(p.pr AS DOUBLE) / p.deg")} AS c
      FROM edges e JOIN pr{t - 1} p ON e.b = p.node
    ),
    g{t} AS (SELECT node, sum(c) AS s FROM c{t} GROUP BY node),
    pr{t} AS (
      SELECT d.node, d.deg,
             {r12("0.15 / n + 0.85 * CAST(g.s AS DOUBLE)")} AS pr
      FROM deg d JOIN g{t} g ON d.node = g.node, nn
    )"""
    sql += f"""
    SELECT node AS doc_id, CAST(pr AS DOUBLE) AS pagerank FROM pr{iters}
    """
    return sql


def _triangles_oracle() -> str:
    """Naive-but-exact triangle enumeration (x<y<z via three self-joins)
    over the same near-dup edge list as _CLUSTERS_ORACLE — the oracle
    affirms the degree-ordered oriented enumeration loses/duplicates
    nothing."""
    edges = _CLUSTERS_ORACLE[: _CLUSTERS_ORACLE.index("), reach")] + ")"
    return edges + """,
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b AND e2.b > e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
      WHERE e1.a < e1.b
    ),
    corners AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ),
    pernode AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
      FROM corners GROUP BY node
    ),
    deg AS (
      SELECT a AS node, CAST(count(*) AS BIGINT) AS degree
      FROM edges GROUP BY a
    )
    SELECT d.node AS doc_id, d.degree,
           CAST(coalesce(p.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.degree < 2 THEN 0.0
                ELSE floor((2.0 * coalesce(p.n_triangles, 0)
                            / (d.degree * (d.degree - 1.0)))
                           * 1000000.0 + 0.5) / 1000000.0
           END AS clustering_coef
    FROM deg d LEFT JOIN pernode p ON p.node = d.node
    """


@query("graph_triangles", oracle=_triangles_oracle())
def graph_triangles(spark, sf_dir):
    """Per-document triangle counts + local clustering coefficient over
    the exact near-dup graph — distinguishes tight duplicate CLIQUES
    (template/boilerplate families, coefficient → 1) from star-shaped
    hub overlap (one page sharing distinct content with many,
    coefficient → 0), a structure signal the flat pair list and even
    PageRank can't separate. Runs on degree-ordered oriented
    enumeration (operators/graph.py::triangle_counts): out-degree capped
    at O(√m) so celebrity nodes can't explode the wedge join, the
    (degree, id) total order realized as struct comparison (no global
    rank window), three keyed shuffles total. The oracle enumerates
    triangles naively (x<y<z three-way self-join) — the exact hash match
    proves the oriented scheme finds each triangle exactly once."""
    from delfos_etl_pipeline_spark.dedup.ngram import jaccard_pairs, shingle_sets
    from delfos_etl_pipeline_spark.operators.graph import triangle_counts

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        shingle_sets(docs, "doc_id", "text", n=3, hashed=True, with_size=True),
        threshold=0.6,
    )
    out = triangle_counts(pairs)
    return out.select(
        F.col("node").alias("doc_id"),
        "degree",
        "n_triangles",
        "clustering_coef",
    )


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """PageRank (3 damped power-iteration rounds, Page et al.) over the
    exact near-dup graph — ranks the most-connected documents in
    duplicate neighborhoods (boilerplate hubs score high, a curation
    signal the binary keep/drop dedup misses). The numeric-iterative
    twin of the combinatorial closure queries: per round ONE edge join +
    ONE keyed sum — plain hash shuffles at any scale, no driver state
    beyond |V|. Exactly certified by an unrolled-CTE oracle: rank lives
    in DECIMAL(18,12), each round's pr/deg contribution and damped
    update are double computations from exact decimals rounded half-up
    straight back to 12 decimals, so every gather is an order-free
    DECIMAL sum and both engines agree bitwise at every iteration."""
    from delfos_etl_pipeline_spark.dedup.ngram import jaccard_pairs, shingle_sets
    from delfos_etl_pipeline_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        shingle_sets(docs, "doc_id", "text", n=3, hashed=True, with_size=True),
        threshold=0.6,
    )
    pr = pagerank(pairs, iterations=3)
    return pr.select(
        F.col("node").alias("doc_id"),
        F.col("pr").cast("double").alias("pagerank"),
    )


@query(
    "dedup_dupngram_fraction",
    oracle="""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents
    ), inst AS (
      SELECT doc_id, array_to_string(w[i:i+4], ' ') AS sh
      FROM words, unnest(generate_series(1, greatest(len(w)-4, 0))) AS t(i)
    ), dfreq AS (
      SELECT sh, count(DISTINCT doc_id) AS n_docs FROM inst GROUP BY sh
    )
    SELECT i.doc_id,
           count(*) AS total_ngrams,
           count(*) FILTER (WHERE d.n_docs >= 2) AS dup_ngrams,
           floor((count(*) FILTER (WHERE d.n_docs >= 2)) * 1.0 / count(*)
                 * 1000000.0 + 0.5) / 1000000.0 AS dup_fraction
    FROM inst i JOIN dfreq d ON i.sh = d.sh
    GROUP BY i.doc_id
    """,
)
def dedup_dupngram_fraction(spark, sf_dir):
    """Per-document duplicated-5-gram fraction — the distributed proxy for
    EXACT SUBSTRING dedup (Lee et al. ACL'22 suffix-array spans): the
    share of each document's n-gram instances (positions, with
    multiplicity) whose n-gram also appears in another document. The
    remaining dedup tier between document-level exact dedup and
    set-similarity near-dup: catches templated/boilerplate-heavy pages
    that neither exact hash nor whole-set Jaccard flags. Linear plan —
    instance relation, (doc,shingle)-distinct doc-frequency agg,
    one instance⋈frequency join on 8-byte hashed shingles, doc-keyed
    count; no self-join, no candidate blow-up (dedup/ngram.py
    dup_ngram_stats docstring has the 100 TB shuffle inventory)."""
    from delfos_etl_pipeline_spark.dedup.ngram import dup_ngram_stats

    docs = _t(spark, sf_dir, "documents")
    return dup_ngram_stats(docs, "doc_id", "text", n=5)


@query(
    "dedup_exact_substring",
    oracle="""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS start, array_to_string(w[i:i+4], ' ') AS g
      FROM words, unnest(generate_series(1, greatest(len(w)-4, 0))) AS t(i)
    ),
    dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
    dstart AS (SELECT doc_id, start FROM grams WHERE g IN (SELECT g FROM dupg)),
    covered AS (
      SELECT DISTINCT doc_id, start + j AS pos
      FROM dstart, unnest(generate_series(0, 4)) AS t(j)
    ),
    runs AS (
      SELECT doc_id, count(*) AS n_spans FROM (
        SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM covered) s
      WHERE prev IS NULL OR pos - prev > 1
      GROUP BY doc_id
    ),
    tok AS (
      SELECT doc_id, i AS pos, w[i] AS token
      FROM words, unnest(generate_series(1, len(w))) AS t(i)
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.token FROM tok t
      WHERE NOT EXISTS (SELECT 1 FROM covered c
                        WHERE c.doc_id = t.doc_id AND c.pos = t.pos)
    ),
    ka AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(token, ' ' ORDER BY pos) AS cleaned
      FROM kept GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(len(w.w) AS BIGINT) AS n_tokens,
           CAST(len(w.w) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed,
           CAST(coalesce(r.n_spans, 0) AS BIGINT) AS n_spans,
           coalesce(ka.cleaned, '') AS cleaned_text,
           floor((len(w.w) - coalesce(ka.n_kept, 0)) * 1.0 / len(w.w)
                 * 1000000.0 + 0.5) / 1000000.0 AS removed_fraction
    FROM words w
    LEFT JOIN ka ON ka.doc_id = w.doc_id
    LEFT JOIN runs r ON r.doc_id = w.doc_id
    """,
)
def dedup_exact_substring(spark, sf_dir):
    """Exact-substring dedup — repeated >=5-token span REMOVAL (not just
    the dup_ngram_stats measurement): every span covered by a k-gram
    occurring >=2 times corpus-wide is cut from every document, and each
    doc reports its cleaned text plus removal stats (Lee et al. ACL'22
    ExactSubstr, at fixed k=5). Linear plan — gram-keyed frequency agg,
    1x instance->frequency join, doc-keyed collect of duplicated starts,
    then pure array-expression span reconstruction; no self-join, no
    window (dedup/substring.py has the 100 TB shuffle inventory). The
    oracle replays the same semantics with literal string grams and a
    NOT EXISTS anti-join; the engine keys grams by xxhash64 (8-byte
    shuffle keys, the dup_ngram_stats precedent)."""
    from delfos_etl_pipeline_spark.dedup.substring import (
        remove_duplicate_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, "doc_id", "text", k=5, min_freq=2)


_ER_ORACLE = """
    WITH RECURSIVE words AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM words, unnest(generate_series(1, greatest(len(w)-2, 0))) AS t(i)
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT p.doc_a, p.doc_b
      FROM cand p
      JOIN sizes sa ON p.doc_a = sa.doc_id
      JOIN sizes sb ON p.doc_b = sb.doc_id
      WHERE round(shared * 1.0 / (sa.sz + sb.sz - shared), 6) >= 0.6
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), reach(node, comp) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    ), comp AS (
      SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node
    ), memb AS (
      SELECT c.node AS doc_id, c.cluster_id, d.n_chars, d.lang, d.source
      FROM comp c JOIN documents d ON d.doc_id = c.node
    ), rep AS (
      SELECT cluster_id, doc_id AS rep_doc_id, n_chars AS rep_n_chars,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM memb
    )
    SELECT m.cluster_id,
           min(m.doc_id) AS canonical_id,
           count(*) AS n_members,
           count(DISTINCT m.lang) AS n_langs,
           count(DISTINCT m.source) AS n_sources,
           min(r.rep_doc_id) AS rep_doc_id,
           min(r.rep_n_chars) AS rep_n_chars
    FROM memb m
    JOIN (SELECT * FROM rep WHERE rn = 1) r USING (cluster_id)
    GROUP BY m.cluster_id
    """


@query("er_canonical_records", oracle=_ER_ORACLE)
def er_canonical_records(spark, sf_dir):
    """Entity resolution end-to-end: near-dup pair generation (exact
    Jaccard), transitive closure into duplicate clusters, then
    SURVIVORSHIP — one canonical record per entity cluster with
    deterministic merge rules (min id as the stable key; the longest
    text as representative, ties to the smallest id; attribute-spread
    counts for audit). The record-linkage shape (Fellegi-Sunter
    pipelines, master-data dedup) on top of the same CC machinery the
    dedup family certifies.

    Survivorship is a single doc-keyed join plus a cluster-keyed
    aggregation over the CC output — linear on top of the closure. The
    representative pick is a struct-max (max over (n_chars, -doc_id)
    pairs), a plain partial-aggregable MAX — no per-cluster window, no
    rank shuffle; the oracle computes the same pick with a rank window,
    so the hash match certifies the struct-max rewrite. The closure runs
    algorithm='auto': near-dup pair lists are a vanishing fraction of
    the corpus, so the guarded driver union-find applies (one collect of
    the pruned edge list, no iterative rounds), with the distributed
    star algorithm as the beyond-guard fallback — the three-tier design
    dedup/clusters.py documents."""
    from delfos_etl_pipeline_spark.dedup.clusters import duplicate_clusters
    from delfos_etl_pipeline_spark.dedup.ngram import jaccard_pairs, shingle_sets

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        shingle_sets(docs, "doc_id", "text", n=3, hashed=True, with_size=True),
        threshold=0.6,
    )
    clusters = duplicate_clusters(pairs, algorithm="auto")
    memb = clusters.join(
        docs.select("doc_id", "n_chars", "lang", "source"), "doc_id"
    )
    rep = F.max(
        F.struct(F.col("n_chars").alias("nc"), (-F.col("doc_id")).alias("nid"))
    )
    return (
        memb.groupBy("cluster_id")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("lang").alias("n_langs"),
            F.countDistinct("source").alias("n_sources"),
            rep.alias("_rep"),
        )
        .select(
            "cluster_id",
            "canonical_id",
            "n_members",
            "n_langs",
            "n_sources",
            (-F.col("_rep.nid")).alias("rep_doc_id"),
            F.col("_rep.nc").alias("rep_n_chars"),
        )
    )


@query(
    "er_fuzzy_blocked",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_name,
             substring(c_name, 10, 7) AS k1,
             substring(c_name, 17, 2) AS k2
      FROM customer
    ),
    p1 AS (
      SELECT a.c_custkey AS ka, b.c_custkey AS kb,
             a.c_name AS na, b.c_name AS nb
      FROM c a JOIN c b ON a.k1 = b.k1 AND a.c_custkey < b.c_custkey
    ),
    p2 AS (
      SELECT a.c_custkey AS ka, b.c_custkey AS kb,
             a.c_name AS na, b.c_name AS nb
      FROM c a JOIN c b ON a.k2 = b.k2 AND a.c_custkey < b.c_custkey
    ),
    cand AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
    SELECT kb - ka AS key_delta,
           CAST(count(*) AS BIGINT) AS n_pairs,
           min(ka) AS example_key
    FROM cand
    WHERE levenshtein(na, nb) <= 1
    GROUP BY kb - ka
    """,
)
def er_fuzzy_blocked(spark, sf_dir):
    """Fuzzy-match self-join with LOSSLESS pigeonhole blocking — the
    entity-resolution primitive (typo-tolerant identity matching) at
    linkable scale. Edit distance ≤ 1 between equal-length strings means
    exactly one substituted character, so a pair must agree EXACTLY on at
    least one of two disjoint segments of the name's digit suffix
    (pigeonhole); two equi-join blocking passes — on digits[1..7] and
    digits[8..9] — therefore have PROVABLY complete recall, and the
    passes are disjoint (agreeing on both segments would mean identical
    names, excluded by key_a < key_b on a unique column), so UNION ALL
    needs no dedup. levenshtein() runs only on candidates — sum of
    C(|block|,2), never the n² cross join; generalizes to distance d via
    d+1 segments (match on ≥1, then distinct pairs). Both engines use
    their native levenshtein (identical classic DP semantics). Output is
    the pair census by key delta (a one-digit substitution at position p
    shifts the numeric key by d·10^(9-p)), keeping the result
    |positions|×9-bounded while the JOIN itself is the thing measured.

    The Spark plan REFINES the oracle's 2-segment spec with WILDCARD
    (deletion-neighborhood) blocking: each name emits 9 keys, one per
    digit position with that position masked to '*'; a hamming-1 pair
    shares EXACTLY the one key of its substituted position (complete
    recall, no dedup needed), and every other bucket member agrees on
    all eight remaining digits — so bucket sizes collapse to
    near-exact-match groups and the candidate count ≈ the true pair
    count (~20k at sf0.1) instead of the Σ C(|block|,2) ≈ 2M the
    coarse segments produce. Segment blocking degrades when key
    entropy is uneven (leading zeros here leave 2-digit segments with
    100 distinct values over 20k names); position-masked keys always
    carry the full 8 remaining digits of entropy. Cost: a 9× key
    explosion of the (key, name) relation — linear, shuffle-friendly —
    versus a quadratic block blow-up. The oracle stays the coarse
    2-pass spec; hash equality proves the refinement lossless."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(9)),
                lambda i: F.concat(
                    F.substring(F.col("c_name"), 10, 9).substr(F.lit(1), i - 1),
                    F.lit("*"),
                    F.substring(F.col("c_name"), 10, 9).substr(
                        i + 1, F.lit(9) - i
                    ),
                ),
            )
        ).alias("_bk"),
    )
    a = c.select(
        F.col("c_custkey").alias("ka"), F.col("c_name").alias("na"), "_bk"
    )
    b = c.select(
        F.col("c_custkey").alias("kb"), F.col("c_name").alias("nb"), "_bk"
    )
    cand = a.join(b, "_bk").where(F.col("ka") < F.col("kb"))
    return (
        cand.where(F.levenshtein("na", "nb") <= 1)
        .groupBy((F.col("kb") - F.col("ka")).alias("key_delta"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.min("ka").alias("example_key"),
        )
    )


@query(
    "dedup_containment",
    oracle="""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM words, unnest(generate_series(1, greatest(len(w)-2, 0))) AS t(i)
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), sized AS (
      SELECT p.doc_a, p.doc_b, p.shared, sa.sz AS sz_a, sb.sz AS sz_b
      FROM pairs p
      JOIN sizes sa ON p.doc_a = sa.doc_id
      JOIN sizes sb ON p.doc_b = sb.doc_id
    )
    SELECT doc_a AS doc_sub, doc_b AS doc_super,
           round(shared * 1.0 / sz_a, 6) AS containment
    FROM sized WHERE round(shared * 1.0 / sz_a, 6) >= 0.9
    UNION ALL
    SELECT doc_b, doc_a, round(shared * 1.0 / sz_b, 6)
    FROM sized WHERE round(shared * 1.0 / sz_b, 6) >= 0.9
    """,
)
def dedup_containment(spark, sf_dir):
    """ASYMMETRIC near-dup: shingle containment C(a→b) = |A∩B|/|A| ≥ 0.9
    — catches what Jaccard structurally cannot: a short document embedded
    verbatim in a much longer one (quotes, boilerplate wrappers,
    truncated re-crawls) scores near-zero Jaccard because the union is
    dominated by the longer side, but containment of the SHORT side is ~1.
    Same machinery as the Jaccard family (one shared-shingle count per
    unordered candidate pair, sizes riding the shingle rows), then each
    pair is tested in BOTH directions — directed output (doc_sub ⊆
    doc_super). Scale posture is inherited: shingle-keyed candidate join
    with the max_shingle_freq boilerplate bound (dedup/ngram.py module
    docstring); the one extra cost vs Jaccard is the directed
    projection, which is a map-side union of two filters over the same
    aggregated pair relation — computed once, consumed twice via the
    sized subtree (Catalyst reuses the exchange)."""
    from delfos_etl_pipeline_spark.dedup.ngram import shingle_sets

    docs = _t(spark, sf_dir, "documents")
    sh = shingle_sets(docs, "doc_id", "text", n=3, hashed=True, with_size=True)
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sz").alias("sz_a"),
        F.col("shingle"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sz").alias("sz_b"),
        F.col("shingle"),
    )
    sized = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .persist()
    )
    c_ab = F.round(F.col("shared") * F.lit(1.0) / F.col("sz_a"), 6)
    c_ba = F.round(F.col("shared") * F.lit(1.0) / F.col("sz_b"), 6)
    fwd = sized.where(c_ab >= 0.9).select(
        F.col("doc_a").alias("doc_sub"),
        F.col("doc_b").alias("doc_super"),
        c_ab.alias("containment"),
    )
    rev = sized.where(c_ba >= 0.9).select(
        F.col("doc_b").alias("doc_sub"),
        F.col("doc_a").alias("doc_super"),
        c_ba.alias("containment"),
    )
    return fwd.unionByName(rev)


@query(
    "dedup_lsh_recall_eval",
    oracle="""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS words
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 0) + 1),
               i -> array_to_string(list_slice(words, i, i + 2), ' ')
             )) AS shingles
      FROM d
    ),
    sig AS (
      SELECT doc_id,
             list_transform(range(0, 64), i ->
               list_min(list_transform(shingles,
                 s -> md5(i::VARCHAR || '|' || s)))) AS sg
      FROM sh WHERE len(shingles) > 0
    ),
    bands AS (
      SELECT doc_id, band,
             md5(array_to_string(
               list_slice(sg, band * 4 + 1, band * 4 + 4), '|')) AS bucket
      FROM sig, unnest(range(0, 16)) AS t(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id
    ),
    sh_ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM sh_ex a JOIN sh_ex b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT p.doc_a, p.doc_b
      FROM pairs p
      JOIN sizes sa ON p.doc_a = sa.doc_id
      JOIN sizes sb ON p.doc_b = sb.doc_id
      WHERE round(shared * 1.0 / (sa.sz + sb.sz - shared), 6) >= 0.6
    ),
    m AS (
      SELECT (SELECT count(*) FROM truth) AS n_true,
             (SELECT count(*) FROM cand) AS n_candidates,
             (SELECT count(*) FROM truth t
              JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
               AS n_hit
    )
    SELECT CAST(n_true AS BIGINT) AS n_true,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hit AS BIGINT) AS n_hit,
           floor(n_hit * 1.0 / n_true * 1000000.0 + 0.5) / 1000000.0
             AS recall
    FROM m
    """,
)
def dedup_lsh_recall_eval(spark, sf_dir):
    """Dedup-detector EVAL harness: banding recall of MinHash(64)+LSH(16
    bands) against the exact-Jaccard ≥ 0.6 ground truth — the number
    every production dedup deployment must publish before trusting the
    approximate path (the 16×4 banding S-curve predicts ~99% recall at
    J=0.6; this measures it on the actual corpus). Composes two
    ALREADY-ORACLED pipelines — lsh_candidates (pre-verification banding
    output) and jaccard_pairs (exact truth) — and reduces to one row of
    counts: truth, candidates, hits, recall. The join of the two pair
    sets is by (doc_a, doc_b) keys, both sides already deduplicated and
    far smaller than the corpus; everything else is the previously
    certified machinery (md5 keying for the oracle twin, xxhash64 in
    production). Precision needs no row: LSH candidates are verified
    exactly downstream, so false positives cost only verify time."""
    from delfos_etl_pipeline_spark.dedup.minhash import (
        lsh_candidates,
        minhash_signatures,
    )
    from delfos_etl_pipeline_spark.dedup.ngram import (
        jaccard_pairs,
        shingle_arrays,
        shingle_sets,
    )

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(
        shingle_arrays(docs, "doc_id", "text", n=3, hashed=False),
        hash_fn="md5",
    )
    cand = lsh_candidates(sig, hash_fn="md5").persist()
    truth = jaccard_pairs(
        shingle_sets(docs, "doc_id", "text", n=3, hashed=True, with_size=True),
        threshold=0.6,
    ).select("doc_a", "doc_b").persist()
    hit = truth.join(cand, ["doc_a", "doc_b"])
    m = (
        truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
        .crossJoin(
            cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
        )
        .crossJoin(hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit")))
    )
    return m.select(
        "n_true",
        "n_candidates",
        "n_hit",
        round_half_up(F.col("n_hit") * F.lit(1.0) / F.col("n_true"), 6).alias(
            "recall"
        ),
    )


def _degree_dist_oracle() -> str:
    edges = _CLUSTERS_ORACLE[: _CLUSTERS_ORACLE.index("), reach")] + ")"
    return edges + """,
    deg AS (
      SELECT a AS node, CAST(count(*) AS BIGINT) AS degree
      FROM edges GROUP BY a
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """


@query("graph_degree_distribution", oracle=_degree_dist_oracle())
def graph_degree_distribution(spark, sf_dir):
    """Degree distribution of the exact near-dup graph: how many
    documents have k near-duplicate neighbors — the first thing to read
    off a dedup graph before choosing cluster policy (a heavy tail
    means boilerplate template hubs → cap-and-sample; a flat head
    means pairwise dupes → simple keep-first). Complements
    graph_triangles (local structure) and dedup_clusters (global
    components) with the corpus-level shape.

    Scale shape: the near-dup pair list (doc_a < doc_b, blocked
    shingle join — never all-pairs) unions both directions, then two
    keyed integer aggregations (node -> degree, degree -> count), both
    map-side combinable; nothing here is heavier than the edge list
    itself. Pure integer counting — exact with no rounding contract."""
    from delfos_etl_pipeline_spark.dedup.ngram import jaccard_pairs, shingle_sets

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        shingle_sets(docs, "doc_id", "text", n=3, hashed=True, with_size=True),
        threshold=0.6,
    )
    edges = pairs.select(F.col("doc_a").alias("node")).unionAll(
        pairs.select(F.col("doc_b").alias("node"))
    )
    deg = edges.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


def _keep_policy_oracle() -> str:
    closure = _CLUSTERS_ORACLE[: _CLUSTERS_ORACLE.index("SELECT c.node")]
    return closure + """
    SELECT c.cluster_id,
           CAST(count(*) AS BIGINT) AS cluster_size,
           CAST(min(struct_pack(neg_chars := -d.n_chars,
                                doc_id := c.node)).doc_id AS BIGINT)
             AS kept_doc_id,
           CAST(max(d.n_chars) AS BIGINT) AS kept_n_chars,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped
    FROM comp c JOIN documents d ON c.node = d.doc_id
    GROUP BY c.cluster_id
    """


@query("dedup_cluster_keep_policy", oracle=_keep_policy_oracle())
def dedup_cluster_keep_policy(spark, sf_dir):
    """Survivor selection over the near-dup closure — the step that
    turns 'these documents form a duplicate group' into an actionable
    KEEP/DROP decision: one representative per cluster (longest text,
    ties to the lowest doc_id — deterministic, re-runnable) and the
    drop count the curation report bills against dedup. This is the
    web-corpus policy layer on top of dedup_clusters, the analogue of
    er_canonical_records' survivorship for entity resolution.

    Scale shape: the closure itself is the O(log n)-round star
    alternation (never all-pairs); policy is then ONE cluster-keyed
    aggregation — the argmin rides as a (size-ordered) struct min, so
    no per-cluster window/sort materializes, and the documents join
    brings only n_chars (column pruning drops the text). Exact
    integers throughout."""
    from delfos_etl_pipeline_spark.dedup.clusters import duplicate_clusters
    from delfos_etl_pipeline_spark.dedup.ngram import jaccard_pairs, shingle_sets

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        shingle_sets(docs, "doc_id", "text", n=3, hashed=True, with_size=True),
        threshold=0.6,
    )
    clusters = duplicate_clusters(pairs)
    j = clusters.join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    return j.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
        F.min(
            F.struct(
                (-F.col("n_chars")).alias("neg_chars"),
                F.col("doc_id").alias("doc_id"),
            )
        )["doc_id"]
        .cast("bigint")
        .alias("kept_doc_id"),
        F.max("n_chars").cast("bigint").alias("kept_n_chars"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_dropped"),
    )


@query(
    "dedup_threshold_sweep",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    p AS (
      SELECT round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cs,
             a.vec_id AS ia, b.vec_id AS ib
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.3
    ),
    t AS (SELECT unnest([0.3, 0.35, 0.4, 0.45, 0.5]) AS thr),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM v)
    SELECT t.thr AS threshold,
           CAST(sum(CASE WHEN p.cs >= t.thr THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pairs,
           CAST(count(DISTINCT CASE WHEN p.cs >= t.thr THEN p.ia END)
                + count(DISTINCT CASE WHEN p.cs >= t.thr THEN p.ib END)
                AS BIGINT) AS n_touched_sides,
           floor((sum(CASE WHEN p.cs >= t.thr THEN 1 ELSE 0 END)
                  * 1.0 / max(tot.nv)) * 1000000.0 + 0.5) / 1000000.0
             AS pairs_per_vector
    FROM p, t, tot
    GROUP BY t.thr
    """,
)
def dedup_threshold_sweep(spark, sf_dir):
    """Threshold sweep for semantic dedup: candidate pair counts (and
    the pairs-per-vector load factor) at five cosine cutoffs — the
    curve read BEFORE committing a near-dup threshold, exactly as
    curate_quality_gate_sweep does for the quality gate: a 0.05
    threshold move can swing the dedup graph from forest to hairball,
    and this table shows the cliff before the cluster job finds it the
    hard way. n_touched_sides upper-bounds the affected vectors (the
    clustering workload's node count).

    Scale posture: pairs come from the SAME guarded-BLAS exact pass
    the dedup_embedding_cosine oracle certifies, pre-filtered at the
    LOWEST swept threshold (everything below it can never appear in
    any bucket — the sweep adds zero pair-generation cost over the
    loosest single run); the thresholds ride a broadcast literal
    array into a 5-key conditional aggregation. At corpus scale the
    pair source swaps to the LSH-banded candidate path unchanged —
    the sweep only consumes (cs) pairs. Note: synthetic embeddings
    put these thresholds in the far tail (the dedup_embedding_cosine
    caveat); real corpora sweep 0.90-0.99."""
    from delfos_etl_pipeline_spark.dedup.embedding import (
        embedding_near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.3
    ).select(
        F.col("cosine_sim").alias("cs"),
        F.col("id_a").alias("ia"),
        F.col("id_b").alias("ib"),
    )
    thr = local_frame(
        spark, [(0.3,), (0.35,), (0.4,), (0.45,), (0.5,)], "thr double"
    )
    tot = emb.agg(F.count(F.lit(1)).cast("bigint").alias("nv"))
    hit = F.when(F.col("cs") >= F.col("thr"), 1).otherwise(0)
    return (
        pairs.crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(tot))
        .groupBy(F.col("thr").alias("threshold"))
        .agg(
            F.sum(hit).cast("bigint").alias("n_pairs"),
            (
                F.count_distinct(
                    F.when(F.col("cs") >= F.col("thr"), F.col("ia"))
                )
                + F.count_distinct(
                    F.when(F.col("cs") >= F.col("thr"), F.col("ib"))
                )
            )
            .cast("bigint")
            .alias("n_touched_sides"),
            round_half_up(F.sum(hit) * 1.0 / F.max("nv"), 6).alias(
                "pairs_per_vector"
            ),
        )
    )


# Deterministic messy-manifest synthesis: collisions happen exactly when
# two docs share (source, lang, doc_id%7, doc_id%4=0-class) — the mixed
# case, fragment, tracking params, and trailing slash are per-doc NOISE
# the canonicalizer must collapse for the dedup to find them.
_MANIFEST_URL_SQL = """
      'https://' ||
      CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END ||
      '.example.com/' || lang || '/doc/' ||
      CAST(doc_id % 7 AS VARCHAR) ||
      CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
      CASE WHEN doc_id % 4 <> 0
           THEN '?utm_source=feed&p=' || CAST((doc_id % 7) % 3 AS VARCHAR)
                || '&utm_id=' || CAST(doc_id % 11 AS VARCHAR)
           ELSE '?utm_source=feed' END ||
      CASE WHEN doc_id % 3 = 0 THEN '#s' || CAST(doc_id AS VARCHAR)
           ELSE '' END
"""


@query(
    "dedup_url_manifest",
    oracle=f"""
    WITH manifest AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_bytes,
             {_MANIFEST_URL_SQL} AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id, source, n_bytes,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(lower(url), '#.*$', ''),
                   '&utm_[^&]*', '', 'g'),
                 '\\?utm_[^&]*&', '?'),
               '\\?utm_[^&]*$', '') AS curl
      FROM manifest
    ),
    canon2 AS (
      SELECT doc_id, source, n_bytes,
             regexp_replace(
               regexp_replace(curl, '/\\?', '?'), '/$', '') AS curl
      FROM canon
    ),
    per_url AS (
      SELECT source, curl,
             count(*) AS cnt,
             sum(n_bytes) AS bytes_all,
             arg_min(n_bytes, doc_id) AS bytes_kept
      FROM canon2 GROUP BY source, curl
    )
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_urls,
           CAST(count(*) AS BIGINT) AS n_unique,
           CAST(sum(cnt) - count(*) AS BIGINT) AS n_dup_rows,
           CAST(sum(bytes_all) AS BIGINT) AS bytes_total,
           CAST(sum(bytes_all) - sum(bytes_kept) AS BIGINT)
             AS bytes_skipped
    FROM per_url GROUP BY source
    """,
)
def dedup_url_manifest(spark, sf_dir):
    """Manifest-level exact dedup BEFORE decode — the cheapest 100 TB
    win: a crawl/file listing (url, size) is canonicalized and deduped
    so duplicate payloads are never fetched or decoded at all. URL
    canonicalization is the real operator chain (lowercase, strip
    fragment, strip utm_* tracking params — keeping meaningful params —
    strip trailing slash); dedup keeps the lowest doc_id per canonical
    URL and the report quantifies per-source listing size, duplicate
    rows, and the BYTES the decode stage never has to touch. The
    manifest itself is synthesized deterministically from the documents
    table (host from source, path from doc_id residues, the messy
    variants — case, fragments, tracking params, trailing slash — keyed
    by doc_id mod classes) so both engines derive identical input; the
    operator chain is exactly what runs on a real CommonCrawl WARC
    listing. Pure expression work + one (source, url)-keyed agg + one
    per-source agg — touches listing METADATA only, never payloads;
    at 100 TB this plan's input is the manifest (GBs), not the corpus
    (TBs)."""
    url = F.expr(_MANIFEST_URL_SQL.replace("VARCHAR", "STRING"))
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), r"#.*$", ""),
                r"&utm_[^&]*",
                "",
            ),
            r"\?utm_[^&]*&",
            "?",
        ),
        r"\?utm_[^&]*$",
        "",
    )
    canon = F.regexp_replace(F.regexp_replace(canon, r"/\?", "?"), r"/$", "")
    manifest = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("n_bytes"),
        canon.alias("curl"),
    )
    per_url = manifest.groupBy("source", "curl").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n_bytes").alias("bytes_all"),
        F.min_by("n_bytes", "doc_id").alias("bytes_kept"),
    )
    return per_url.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_urls"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
        (F.sum("cnt") - F.count(F.lit(1))).cast("bigint").alias("n_dup_rows"),
        F.sum("bytes_all").cast("bigint").alias("bytes_total"),
        (F.sum("bytes_all") - F.sum("bytes_kept"))
        .cast("bigint")
        .alias("bytes_skipped"),
    )


@query(
    "dedup_minhash_est_error",
    oracle="""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS words
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 0) + 1),
               i -> array_to_string(list_slice(words, i, i + 2), ' ')
             )) AS shingles
      FROM d
    ),
    sig AS (
      SELECT doc_id,
             list_transform(range(0, 64), i ->
               list_min(list_transform(shingles,
                 s -> md5(i::VARCHAR || '|' || s)))) AS sg
      FROM sh WHERE len(shingles) > 0
    ),
    bands AS (
      SELECT doc_id, band,
             md5(array_to_string(
               list_slice(sg, band * 4 + 1, band * 4 + 4), '|')) AS bucket
      FROM sig, unnest(range(0, 16)) AS t(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id
    ),
    m AS (
      SELECT c.doc_a, c.doc_b,
             len(list_filter(range(1, 65), i -> x.sg[i] = y.sg[i]))
               AS n_match,
             len(list_intersect(a.shingles, b.shingles)) AS shared,
             len(a.shingles) AS sa, len(b.shingles) AS sb
      FROM cand c
      JOIN sig x ON x.doc_id = c.doc_a
      JOIN sig y ON y.doc_id = c.doc_b
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_match AS BIGINT) AS n_match,
           CAST(n_match * 15625 AS BIGINT) AS est_ppm,
           CAST(floor(shared * 1000000.0 / (sa + sb - shared) + 0.5)
                AS BIGINT) AS exact_ppm,
           CAST(abs(n_match * 15625
                - floor(shared * 1000000.0 / (sa + sb - shared) + 0.5))
                AS BIGINT) AS err_ppm
    FROM m
    """,
)
def dedup_minhash_est_error(spark, sf_dir):
    """MinHash ESTIMATOR-quality audit: for every banded candidate pair,
    the sketch's Jaccard estimate (matching signature components / 64 —
    exact integers: ppm = n_match * 15625) against the true set Jaccard,
    with the absolute error in ppm. The companion to
    dedup_lsh_recall_eval: recall tells you what banding MISSES; this
    tells you how far the estimator is OFF on what it finds — what a
    pipeline checks before trusting an LSH threshold as a proxy for a
    true-Jaccard policy (E[err] ~ sqrt(j(1-j)/64) ~ 6% at j=0.5, and
    the empirical distribution catches biased shingle spaces that the
    binomial bound doesn't). md5-keyed end to end, so signatures,
    banding, candidates, and both estimators are reproduced bit-exactly
    by the oracle (the dedup_minhash_lsh precedent); the single float op
    is one division+floor, identical IEEE in both engines. Plan: the
    persisted signature relation feeds banding and both join probes —
    signature construction runs once; candidates stay banded, never
    all-pairs."""
    from delfos_etl_pipeline_spark.dedup.minhash import (
        lsh_candidates,
        minhash_signatures,
    )
    from delfos_etl_pipeline_spark.dedup.ngram import shingle_arrays

    docs = _t(spark, sf_dir, "documents")
    arrs = shingle_arrays(docs, "doc_id", "text", n=3, hashed=False).persist()
    sigs = minhash_signatures(arrs, 64, hash_fn="md5").persist()
    cand = lsh_candidates(sigs, 64, 16, hash_fn="md5")
    paired = (
        cand.join(
            sigs.select(
                F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
            ),
            "doc_a",
        )
        .join(
            sigs.select(
                F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
            ),
            "doc_b",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
            ),
            "doc_b",
        )
    )
    n_match = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda b: b,
        )
    )
    shared = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - shared
    exact_ppm = F.floor(shared * F.lit(1000000.0) / union + F.lit(0.5))
    return paired.select(
        "doc_a",
        "doc_b",
        n_match.cast("bigint").alias("n_match"),
        (n_match * 15625).cast("bigint").alias("est_ppm"),
        exact_ppm.cast("bigint").alias("exact_ppm"),
        F.abs(n_match * 15625 - exact_ppm).cast("bigint").alias("err_ppm"),
    )


def _semdedup_oracle_sql() -> str:
    """Wrap the certified banded-hyperplane-LSH pair oracle in the
    recursive-CTE transitive closure (the _ER_ORACLE pattern) and the
    min-id survivor policy."""
    base = _embedding_lsh_oracle_sql()
    return f"""
    WITH RECURSIVE pairs AS ({base}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, comp) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node)
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(node) AS BIGINT) AS kept_vec_id,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped
    FROM comp GROUP BY cluster_id
    """


@query("dedup_semdedup_survivors", oracle=_semdedup_oracle_sql())
def dedup_semdedup_survivors(spark, sf_dir):
    """SemDeDup-style SEMANTIC dedup end to end (Abbas et al. 2023:
    bucket the embedding space, dedup within buckets, keep one item per
    semantic duplicate group): banded hyperplane-LSH candidates with
    exact cosine >= 0.4 verification (the certified
    embedding_near_dup_pairs_lsh path — buckets play the role of
    SemDeDup's k-means cells, deterministic so the oracle reproduces
    them), transitive closure into semantic clusters
    (dedup/clusters.py), and min-id survivor selection with per-cluster
    drop counts — the actual DELETE list a semantic-dedup pass hands
    the corpus writer. Composes three oracle-certified tiers into one
    driver-checked result; the closure oracle is the recursive-CTE
    _ER_ORACLE pattern over the LSH pair oracle. Scale: banded+capped
    candidates (never all-pairs) verified by one Arrow-batched einsum
    pass (VERDICT r7: the expression-cosine verify paid ~4× on 10⁵–10⁶
    candidates — 21.9 s at sf0.1); closure via algorithm="auto" — the
    guarded driver union-find (post-LSH edge lists are a vanishing
    fraction of the corpus; one collect instead of per-round actions),
    star fallback beyond the 2M-edge guard; one cluster-keyed agg for
    the policy."""
    from delfos_etl_pipeline_spark.dedup.clusters import duplicate_clusters
    from delfos_etl_pipeline_spark.dedup.embedding import (
        embedding_near_dup_pairs_lsh,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs_lsh(
        emb, "vec_id", "embedding", threshold=0.4
    )
    cc = duplicate_clusters(pairs, src="id_a", dst="id_b", algorithm="auto")
    return cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("doc_id").cast("bigint").alias("kept_vec_id"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_dropped"),
    ).select(
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "n_members",
        "kept_vec_id",
        "n_dropped",
    )


@query(
    "dedup_rate_by_source",
    oracle="""
    WITH aug AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, 'mirror' AS source, text
      FROM documents WHERE doc_id % 7 = 0
    ),
    k AS (SELECT doc_id, source, md5(text) AS key FROM aug),
    g AS (
      SELECT key, CAST(count(*) AS BIGINT) AS c, min(doc_id) AS keeper
      FROM k GROUP BY key
    )
    SELECT k.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (g.c >= 2) AS BIGINT) AS n_dup_docs,
           CAST(count(*) FILTER (g.c >= 2 AND k.doc_id <> g.keeper)
                AS BIGINT) AS n_removable,
           CAST(floor(count(*) FILTER (g.c >= 2) * 1000000.0 / count(*)
                      + 0.5) AS BIGINT) AS dup_rate_ppm
    FROM k JOIN g USING (key)
    GROUP BY k.source
    """,
)
def dedup_rate_by_source(spark, sf_dir):
    """Per-domain duplication diagnostics — the table that decides crawl
    policy (a source whose dup_rate is ~1e6 ppm is a mirror/template
    farm: stop crawling it, don't keep paying to dedup it). Exercised
    on a deterministically-injected mirror source (every doc_id % 7 == 0
    re-hosted under 'mirror' with a shifted id — both engines construct
    the same augmented corpus, the text_pii_redact injection pattern),
    so originals always win the min-id keep policy and the mirror shows
    up as ~100% removable. Reports, per source: docs, docs participating
    in any exact-dup group, docs the keep-min policy would remove, and
    the dup participation rate in exact ppm.

    Scale posture: documents shuffle as 16-byte md5 keys, never as
    bodies (the dedup_exact_rows contract); one key-keyed agg, one
    key-keyed join back (both partial-aggregated map-side), one
    source-keyed rollup. Linear at 100 TB with no text movement past
    the first projection."""
    docs = _t(spark, sf_dir, "documents")
    aug = docs.select("doc_id", "source", "text").unionByName(
        docs.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + F.lit(10000000)).alias("doc_id"),
            F.lit("mirror").alias("source"),
            "text",
        )
    )
    k = aug.select(
        "doc_id", "source", F.md5(F.col("text")).alias("key")
    ).persist()
    g = k.groupBy("key").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.min("doc_id").alias("keeper"),
    )
    dup = F.col("c") >= 2
    rem = dup & (F.col("doc_id") != F.col("keeper"))
    return (
        k.join(g, "key")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(dup.cast("bigint")).cast("bigint").alias("n_dup_docs"),
            F.sum(rem.cast("bigint")).cast("bigint").alias("n_removable"),
            F.floor(
                F.sum(dup.cast("bigint")) * F.lit(1000000.0)
                / F.count(F.lit(1)) + F.lit(0.5)
            ).cast("bigint").alias("dup_rate_ppm"),
        )
    )


# One gram-index workdir per (process, sf_dir): the index write is
# mode=overwrite, so bench warmup + timed iterations rewrite in place
# instead of accumulating index copies (the curation _STAGED_WORKDIRS
# pattern).
_GRAM_INDEX_WORKDIRS: dict[str, str] = {}


def ensure_gram_index(spark, sf_dir: str) -> str:
    """Build-once accessor for the standing corpus's persisted 5-gram
    index (literal grams, doc_id % 3 != 0 split): returns the index
    path, writing it ONCE per (process, corpus) — repeat invocations
    (bench iterations) time only the probe, as the incremental query's
    docstring promises (ADVICE r8). Shared by
    dedup_substring_incremental, curate_nightly_ingest, and — via a
    copy-on-entry clone, since maintenance MUTATES its copy — the
    day-2/day-3 maintenance flagships (VERDICT r11 item 5: ONE
    standing-corpus gram materialization per process).

    Written COUNTED (``(gram, cnt)`` doc-refcount rows, r12): the
    deletable index form remove_from_gram_index requires. Membership
    probes are unchanged — they project ``gram`` and semi-join the SET,
    and a counted build stores exactly one row per distinct gram, so
    the probed gram set (and thus every certified output) is
    bit-identical to the uncounted r11 index."""
    import atexit
    import os
    import shutil
    import tempfile

    from delfos_etl_pipeline_spark.dedup.substring import write_gram_index

    workdir = _GRAM_INDEX_WORKDIRS.get(sf_dir)
    if workdir is None:
        docs = _t(spark, sf_dir, "documents")
        corpus = docs.where(F.col("doc_id") % 3 != 0)
        workdir = tempfile.mkdtemp(prefix="gram_index_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        write_gram_index(
            corpus, os.path.join(workdir, "grams"), "doc_id", "text",
            k=5, hashed=False, counted=True,
        )
        _GRAM_INDEX_WORKDIRS[sf_dir] = workdir
    return os.path.join(workdir, "grams")


@query(
    "dedup_substring_incremental",
    oracle="""
    WITH batch AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents WHERE doc_id % 3 = 0
    ),
    ref AS (
      SELECT regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents WHERE doc_id % 3 <> 0
    ),
    eg AS (
      SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS g
      FROM ref, unnest(generate_series(1, greatest(len(w)-4, 0))) AS t(i)
    ),
    cg AS (
      SELECT doc_id, i AS start, array_to_string(w[i:i+4], ' ') AS g
      FROM batch, unnest(generate_series(1, greatest(len(w)-4, 0))) AS t(i)
    ),
    dstart AS (
      SELECT doc_id, start FROM cg WHERE g IN (SELECT g FROM eg)
    ),
    covered AS (
      SELECT DISTINCT doc_id, start + j AS pos
      FROM dstart, unnest(generate_series(0, 4)) AS t(j)
    ),
    runs AS (
      SELECT doc_id, count(*) AS n_spans FROM (
        SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM covered) s
      WHERE prev IS NULL OR pos - prev > 1
      GROUP BY doc_id
    ),
    tok AS (
      SELECT doc_id, i AS pos, w[i] AS token
      FROM batch, unnest(generate_series(1, len(w))) AS t(i)
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.token FROM tok t
      WHERE NOT EXISTS (SELECT 1 FROM covered c
                        WHERE c.doc_id = t.doc_id AND c.pos = t.pos)
    ),
    ka AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(token, ' ' ORDER BY pos) AS cleaned
      FROM kept GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(len(w.w) AS BIGINT) AS n_tokens,
           CAST(len(w.w) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed,
           CAST(coalesce(r.n_spans, 0) AS BIGINT) AS n_spans,
           coalesce(ka.cleaned, '') AS cleaned_text,
           floor((len(w.w) - coalesce(ka.n_kept, 0)) * 1.0 / len(w.w)
                 * 1000000.0 + 0.5) / 1000000.0 AS removed_fraction
    FROM batch w
    LEFT JOIN ka ON ka.doc_id = w.doc_id
    LEFT JOIN runs r ON r.doc_id = w.doc_id
    """,
)
def dedup_substring_incremental(spark, sf_dir):
    """INCREMENTAL substring dedup against a PERSISTED corpus version —
    the index shape remove_spans_matching's docstring promises
    (VERDICT r7 missing item 3), exercised end to end: the standing
    corpus's distinct 5-gram relation is written to parquet ONCE per
    (process, corpus) via write_gram_index, and the arriving batch
    (doc_id % 3 == 0, the dedup_incremental_batch stand-in split) is
    cleaned by probing the RESTORED index — the standing corpus is
    never re-tokenized on the nightly path. The oracle replays the
    FROM-SCRATCH cross-corpus span cut, so the hash match certifies
    that the materialize→restore→probe route is bit-identical to
    rebuilding (tests/test_dedup.py pins the same equality in-process
    and across a simulated restart). Literal string grams here so
    DuckDB reproduces them; production uses hashed=True (8-byte
    xxhash64 keys — same plan, fixed-width index). Scale: the index is
    |distinct grams| single-column rows, gram-clustered at write; each
    batch pays its own linear gram build + one semi-join probe."""
    from delfos_etl_pipeline_spark.dedup.substring import (
        remove_spans_matching_indexed,
    )

    docs = _t(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 3 == 0)
    return remove_spans_matching_indexed(
        batch, ensure_gram_index(spark, sf_dir), "doc_id", "text",
        k=5, hashed=False,
    )


@query(
    "dedup_top_duplicate_spans",
    oracle="""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g
      FROM d, unnest(generate_series(1, greatest(len(w)-4, 0))) AS t(i)
    ),
    agg AS (
      SELECT g AS gram,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM grams GROUP BY g HAVING count(*) >= 2
    )
    SELECT gram, n_occurrences, n_docs
    FROM agg
    ORDER BY n_occurrences DESC, gram
    LIMIT 20
    """,
)
def dedup_top_duplicate_spans(spark, sf_dir):
    """TOP DUPLICATED SPANS report — the diagnostic a substring-dedup
    rollout starts from (Lee et al. ACL'22 §5 inspect the most-repeated
    sequences before choosing k and min_freq: boilerplate headers,
    license blocks, and template sentences show up here first). The 20
    most frequent duplicated 5-grams with their occurrence and
    document-frequency counts, total-ordered (count DESC, gram) so the
    top-k set is deterministic. Same positional gram build as the
    removal operator (dedup/substring.py::_doc_grams — literal grams so
    the oracle reproduces them; production flips to xxhash64 keys and
    joins back for display), one gram-keyed agg with map-side combine
    absorbing ubiquitous-gram skew, TakeOrderedAndProject top-k — no
    global sort. Linear in corpus tokens at any scale."""
    from delfos_etl_pipeline_spark.dedup.substring import _doc_grams

    docs = _t(spark, sf_dir, "documents")
    _, g = _doc_grams(docs, "doc_id", "text", k=5, hashed=False)
    return (
        g.groupBy("gram")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= 2)
        .orderBy(F.col("n_occurrences").desc(), "gram")
        .limit(20)
    )


def _mutual_knn_oracle_sql(k: int = 5, threshold: float = 0.4) -> str:
    """Exact kNN (the certified sim_knn_allpairs tie rule: sim DESC,
    id ASC) thresholded at rounded cosine >= ``threshold``, mutual-edge
    filter, recursive-CTE closure (_ER_ORACLE pattern), min-id
    representative."""
    return f"""
    WITH RECURSIVE v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    knn AS (
      SELECT * FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6)
                 AS sim,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
                          DESC, b.vec_id
               ) AS rank
        FROM n a JOIN n b ON a.vec_id <> b.vec_id
        QUALIFY rank <= {k}
      ) WHERE sim >= {threshold}
    ),
    mut AS (
      SELECT x.id_a, x.id_b
      FROM knn x JOIN knn y ON y.id_a = x.id_b AND y.id_b = x.id_a
      WHERE x.id_a < x.id_b
    ),
    -- MATERIALIZED: the recursive reach references edges every
    -- iteration; inlined, DuckDB re-evaluates the whole N-squared knn
    -- chain per round (measured 578 s at sf0.1 vs ~20 s materialized).
    edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM mut
              UNION SELECT id_b, id_a FROM mut),
    reach(node, comp) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node)
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(node) AS BIGINT) AS rep_vec_id
    FROM comp GROUP BY cluster_id
    """


@query("emb_mutual_knn_clusters", oracle=_mutual_knn_oracle_sql())
def emb_mutual_knn_clusters(spark, sf_dir):
    """MUTUAL-kNN semantic clustering — the neighbor-graph dual of
    SemDeDup's threshold clustering (dedup_semdedup_survivors) and the
    standard density-free grouping for embedding spaces (mutual-kNN is
    the classic spectral/agglomerative pre-graph; NN-descent papers and
    dataset-cartography dedup both build it): an edge exists iff a is
    in b's exact k-NN AND b is in a's (k=5, the certified
    sim_knn_allpairs tie rule — sim DESC, id ASC) AND the rounded
    cosine clears 0.4 (the family threshold) — mutuality prunes
    hub-to-periphery links a pure threshold keeps, while the threshold
    keeps far-apart mutual neighbors (inevitable in sparse regions)
    from chaining the corpus into one giant component; connected
    components over the surviving edges give the semantic groups.
    Composes three
    certified tiers: all_pairs_topk_blas (broadcast reference + one
    BLAS matmul per Arrow batch — the declared truth baseline; at
    corpus scale the kNN stage swaps for the sharded loop or IVF probe,
    the graph/closure stages unchanged), a self-join mutual filter on
    (id, id) pairs, and the guarded driver union-find closure
    (algorithm='auto', star fallback). Output: one row per cluster with
    size and min-id representative."""
    from delfos_etl_pipeline_spark.dedup.clusters import duplicate_clusters
    from delfos_etl_pipeline_spark.similarity.knn import all_pairs_topk_blas

    emb = _t(spark, sf_dir, "embeddings")
    knn = (
        all_pairs_topk_blas(emb, "vec_id", "embedding", k=5)
        .where(F.col("cosine_sim") >= 0.4)
        .select("id_a", "id_b")
        .persist()
    )
    mut = (
        knn.join(
            knn.select(
                F.col("id_a").alias("id_b"), F.col("id_b").alias("id_a")
            ),
            ["id_a", "id_b"],
            "left_semi",
        )
        .where(F.col("id_a") < F.col("id_b"))
    )
    cc = duplicate_clusters(mut, src="id_a", dst="id_b", algorithm="auto")
    return cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("doc_id").cast("bigint").alias("rep_vec_id"),
    ).select(
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "n_members",
        "rep_vec_id",
    )
