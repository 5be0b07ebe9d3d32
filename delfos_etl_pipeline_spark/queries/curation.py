"""Corpus curation: decontamination, token-budget sampling, sequence packing, mixture sampling, and the end-to-end + staged corpus builds (SURVEY §7 M5).

Split from the monolithic queries.py registry (round 4); behavior
unchanged — importing this module registers its queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from delfos_etl_pipeline_spark.queries._registry import _t, query
from delfos_etl_pipeline_spark.session import local_frame

# ---------------------------------------------------------------------------
# Corpus curation — decontamination, budget sampling, packing, mixture
# (SURVEY §7 M5 extension; text/curation.py)
# ---------------------------------------------------------------------------


@query(
    "curate_decontaminate",
    oracle="""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS words
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(words) - 4, 0) + 1),
               i -> array_to_string(list_slice(words, i, i + 4), ' '))) AS shingles
      FROM w
    ),
    ev AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 17 = 0),
    cs AS (
      SELECT c.doc_id, t.s
      FROM sh c, unnest(c.shingles) AS t(s)
      WHERE c.doc_id % 17 <> 0
    )
    SELECT cs.doc_id, CAST(count(DISTINCT cs.s) AS BIGINT) AS n_shared
    FROM cs JOIN ev ON ev.s = cs.s
    GROUP BY 1
    """,
)
def curate_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag corpus documents sharing a word
    5-gram with the evaluation set (stand-in eval set: doc_id % 17 == 0).
    Shingle-keyed semi-join with the (small) eval shingle set broadcast —
    the standard leakage sweep a pretraining corpus runs before training;
    anti-join the flags to clean (text/curation.py)."""
    from delfos_etl_pipeline_spark.text.curation import decontaminate

    docs = _t(spark, sf_dir, "documents")
    eval_df = docs.where(F.col("doc_id") % 17 == 0)
    corpus = docs.where(F.col("doc_id") % 17 != 0)
    return decontaminate(corpus, eval_df, "doc_id", "text", n=5)


@query(
    "sample_token_budget",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS pri
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tok,
             CAST(sum(n_tok) OVER (
               ORDER BY pri, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
      FROM t
    )
    SELECT doc_id, n_tok, cum_tokens FROM c WHERE cum_tokens <= 10000
    """,
)
def sample_token_budget(spark, sf_dir):
    """Deterministic corpus sample under a 10k-token global budget:
    md5-of-id priority order, exact global prefix sum of token counts,
    keep while within budget. The prefix sum is the two-phase distributed
    scan (text/curation.py _global_prefix_sum) — NOT a partitionless
    window, which would collapse to one task; the oracle's single-window
    form is equivalent because prefix sums over a total order don't
    depend on partitioning."""
    from delfos_etl_pipeline_spark.text.curation import token_budget_sample

    return token_budget_sample(
        _t(spark, sf_dir, "documents"), "doc_id", "text", budget=10_000
    )


@query(
    "pack_sequences_ctx",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS pri
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tok,
             CAST(sum(n_tok) OVER (
               ORDER BY pri, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum
      FROM t
    )
    SELECT doc_id, n_tok,
           cum - n_tok AS offset,
           (cum - n_tok) // 2048 AS bin_id
    FROM c
    """,
)
def pack_sequences_ctx(spark, sf_dir):
    """Concat-and-chunk sequence packing (ctx 2048): deterministic stream
    order (md5-of-id), each document's starting token offset in the
    concatenated stream, and the fixed-length training-sequence bin its
    first token lands in — the layout step that turns a curated corpus
    into training batches (text/curation.py, same distributed prefix-sum
    machinery as sample_token_budget)."""
    from delfos_etl_pipeline_spark.text.curation import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), "doc_id", "text", ctx_len=2048
    )


@query(
    "sample_mixture_weighted",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR)) <
      CASE lang
        WHEN 'en' THEN 'g'
        WHEN 'de' THEN '80000000000000000000000000000000'
        WHEN 'es' THEN '80000000000000000000000000000000'
        WHEN 'fr' THEN '40000000000000000000000000000000'
        WHEN 'zh' THEN '40000000000000000000000000000000'
        ELSE ''
      END
    """,
)
def sample_mixture_weighted(spark, sf_dir):
    """Data-mixture sampling: per-language keep rates (en 1.0, de/es 0.5,
    fr/zh 0.25) applied as deterministic md5-of-id hash thresholds — a
    pure narrow filter (no shuffle, no RNG state) that lands the corpus
    on a target language mixture reproducibly; md5 hex sorts below 'g'
    always, so 'g' is the keep-all threshold (text/curation.py)."""
    from delfos_etl_pipeline_spark.text.curation import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    rates = {"en": 1.0, "de": 0.5, "es": 0.5, "fr": 0.25, "zh": 0.25}
    return mixture_sample(docs, rates, "lang", "doc_id").select("doc_id", "lang")


#: One oracle for BOTH corpus-build forms: the staged pipeline materializes
#: stage boundaries to parquet but computes the identical dataflow, so the
#: single-SQL oracle certifies end2end and staged alike.
#: Reused staged-pipeline workdirs, one per (process, sf_dir) — see
#: curate_pipeline_staged.
_STAGED_WORKDIRS: dict[str, str] = {}

_CURATE_ORACLE = """
    WITH corpus0 AS (
      SELECT doc_id, lang, text,
             regexp_split_to_array(lower(text), '\\s+') AS words
      FROM documents
      WHERE doc_id % 17 <> 0
    ),
    quality AS (
      SELECT * FROM corpus0
      WHERE len(words) >= 30
        AND len(list_distinct(words)) * 1.0 / len(words) >= 0.35
    ),
    deduped AS (
      SELECT * FROM quality
      QUALIFY doc_id = min(doc_id) OVER (PARTITION BY text)
    ),
    ev AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
          range(1, greatest(len(regexp_split_to_array(lower(text), '\\s+')) - 4, 0) + 1),
          i -> array_to_string(
            list_slice(regexp_split_to_array(lower(text), '\\s+'), i, i + 4), ' ')
        ))) AS s
      FROM documents WHERE doc_id % 17 = 0
    ),
    contaminated AS (
      SELECT DISTINCT d.doc_id
      FROM deduped d, unnest(list_distinct(list_transform(
          range(1, greatest(len(d.words) - 4, 0) + 1),
          i -> array_to_string(list_slice(d.words, i, i + 4), ' ')))) AS t(s)
      JOIN ev ON ev.s = t.s
    ),
    clean AS (
      SELECT * FROM deduped
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    mixed AS (
      SELECT doc_id, lang,
             len(regexp_split_to_array(text, '\\s+')) AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS pri
      FROM clean
      WHERE md5(CAST(doc_id AS VARCHAR)) <
        CASE lang WHEN 'en' THEN 'g'
                  WHEN 'de' THEN '80000000000000000000000000000000'
                  WHEN 'es' THEN '80000000000000000000000000000000'
                  WHEN 'fr' THEN '40000000000000000000000000000000'
                  WHEN 'zh' THEN '40000000000000000000000000000000'
                  ELSE '' END
    ),
    budget AS (
      SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
             CAST(sum(n_tok) OVER (
               ORDER BY pri, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
      FROM mixed
    )
    SELECT doc_id, lang, n_tok, cum_tokens FROM budget WHERE cum_tokens <= 5000
    """


@query("curate_pipeline_end2end", oracle=_CURATE_ORACLE)
def curate_pipeline_end2end(spark, sf_dir):
    """FLAGSHIP corpus build, end to end, one exact oracle: raw documents
    → quality gate (length >= 30 words, type/token diversity >= 0.35) →
    exact dedup (keep lowest id per identical text) → benchmark
    decontamination (drop docs sharing a 5-gram with the doc_id%17 eval
    set) → language-mixture resampling (en 1.0 / de,es 0.5 / fr,zh 0.25)
    → deterministic 5k-token budget cut. Every stage is the library
    operator a user would call (text/curation.py); the chain is what a
    pretraining data pipeline runs nightly, and the whole thing stays
    expression-level Spark — scan-bound narrow stages, one broadcast
    shingle join, one text-keyed window, one distributed prefix sum.

    The dedup output feeds both sides of the decontamination anti-join,
    so this single-query form computes that subtree twice (persist()
    measured as a wash at bench scale); a production nightly build
    materializes each stage boundary to a table instead — see SCALE.md
    "Corpus curation"."""
    from delfos_etl_pipeline_spark.text.curation import (
        decontaminate_corpus,
        mixture_sample,
        token_budget_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 17 != 0)
    eval_df = docs.where(F.col("doc_id") % 17 == 0)
    words = F.split(F.lower(F.col("text")), r"\s+")
    quality = (
        corpus.withColumn("_w", words)
        .where(
            (F.size("_w") >= 30)
            & (F.size(F.array_distinct("_w")) / F.size("_w") >= 0.35)
        )
        .drop("_w")
    )
    deduped = (
        quality.withColumn(
            "_m", F.min("doc_id").over(Window.partitionBy("text"))
        )
        .where(F.col("doc_id") == F.col("_m"))
        .drop("_m")
    )
    clean = decontaminate_corpus(deduped, eval_df, "doc_id", "text", n=5)
    rates = {"en": 1.0, "de": 0.5, "es": 0.5, "fr": 0.25, "zh": 0.25}
    mixed = mixture_sample(clean, rates, "lang", "doc_id")
    return token_budget_sample(
        mixed, "doc_id", "text", budget=5_000, carry_cols=("lang",)
    )


@query("curate_pipeline_staged", oracle=_CURATE_ORACLE)
def curate_pipeline_staged(spark, sf_dir):
    """The same corpus build as ``curate_pipeline_end2end``, in the
    STAGED deployment shape (SCALE.md "Corpus curation"): every stage
    boundary — quality, dedup, decontaminate, mixture, budget — is
    materialized to parquet and read back, so the decontamination
    anti-join's two consumers scan the `02_deduped` table instead of
    recomputing the dedup subtree twice, and a failed stage restarts
    from the previous boundary. Identical output, same exact oracle;
    timing here includes all five stage writes (the honest nightly-build
    cost)."""
    import atexit
    import shutil
    import tempfile

    from delfos_etl_pipeline_spark.text.curation import (
        curate_pipeline_staged as staged,
    )

    docs = _t(spark, sf_dir, "documents")
    # One workdir per (process, sf_dir), reused across invocations: the
    # stage writes are mode=overwrite, so re-running (bench warmup + N
    # timed iterations) rewrites in place instead of accumulating five
    # corpus copies per call until interpreter exit.
    workdir = _STAGED_WORKDIRS.get(sf_dir)
    if workdir is None:
        workdir = tempfile.mkdtemp(prefix="curate_staged_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        _STAGED_WORKDIRS[sf_dir] = workdir
    return staged(
        docs.where(F.col("doc_id") % 17 != 0),
        docs.where(F.col("doc_id") % 17 == 0),
        workdir,
    )


@query(
    "curate_pipeline_substr",
    oracle="""
    WITH corpus0 AS (
      SELECT doc_id, lang, text,
             regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents
    ),
    quality AS (
      SELECT * FROM corpus0
      WHERE len(w) >= 30
        AND len(list_distinct(w)) * 1.0 / len(w) >= 0.35
    ),
    deduped AS (
      SELECT * FROM quality
      QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))
    ),
    grams AS (
      SELECT doc_id, i AS start, array_to_string(w[i:i+4], ' ') AS g
      FROM deduped, unnest(generate_series(1, greatest(len(w)-4, 0))) AS t(i)
    ),
    dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
    dstart AS (
      SELECT doc_id, start FROM grams WHERE g IN (SELECT g FROM dupg)
    ),
    covered AS (
      SELECT DISTINCT doc_id, start + j AS pos
      FROM dstart, unnest(generate_series(0, 4)) AS t(j)
    ),
    stats AS (
      SELECT d.doc_id, d.lang,
             CAST(len(d.w) AS BIGINT) AS n_tokens,
             CAST(coalesce(c.n_cov, 0) AS BIGINT) AS n_removed
      FROM deduped d
      LEFT JOIN (SELECT doc_id, count(*) AS n_cov FROM covered
                 GROUP BY doc_id) c ON c.doc_id = d.doc_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs_in,
           CAST(count(*) FILTER (WHERE n_tokens - n_removed >= 20)
                AS BIGINT) AS n_docs_kept,
           CAST(count(*) FILTER (WHERE n_tokens - n_removed < 20)
                AS BIGINT) AS n_docs_dropped,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_before,
           CAST(sum(n_removed) AS BIGINT) AS tokens_removed,
           CAST(coalesce(sum(n_tokens - n_removed)
                FILTER (WHERE n_tokens - n_removed >= 20), 0)
                AS BIGINT) AS tokens_after
    FROM stats GROUP BY lang
    """,
)
def curate_pipeline_substr(spark, sf_dir):
    """Corpus build exercising the r7 SPAN-REMOVAL operator end to end:
    quality gate (>= 30 words, type/token >= 0.35) → exact document
    dedup (keep lowest id per identical text) → exact-substring dedup
    (remove_duplicate_spans, k=5: gram frequencies computed WITHIN the
    surviving deduped corpus — the order a real pretraining build runs,
    so boilerplate that survives document-level dedup still gets cut) →
    min-length re-gate (cleaned docs must keep >= 20 tokens) → per-lang
    curation report (docs in/kept/dropped, tokens before/removed/
    after). Everything integer-exact; the oracle replays the full chain
    with literal string grams on top of the flagship's quality/dedup
    CTEs. Plan: the flagship's narrow stages + substring removal's
    linear gram pipeline (dedup/substring.py) + one small per-lang agg;
    no new shuffle class beyond dedup_exact_substring itself. The
    document dedup stage groups on md5(text) with a partial-aggregable
    min(struct) argmin — the dedup_exact contract ("documents shuffle
    as 16-byte md5 keys, never as bodies"): at 100 TB a
    Window.partitionBy(text) would hash, sort, and skew-detect on full
    document bodies (VERDICT r7 item 3)."""
    from delfos_etl_pipeline_spark.dedup.substring import (
        remove_duplicate_spans,
    )

    # Round 16: spread_scan before the quality gate was TRIED (guide
    # §2.5, VERDICT r15 item 3) and reverted on measurement — the
    # span-removal stage downstream ALREADY spreads on doc_id
    # (_doc_grams' keyed repartition), so the extra exchange shipped
    # every document body twice for no new parallelism: execute
    # 1.11 s → 1.49 s.
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), r"\s+")
    quality = (
        docs.withColumn("_w", words)
        .where(
            (F.size("_w") >= 30)
            & (F.size(F.array_distinct("_w")) / F.size("_w") >= 0.35)
        )
        .drop("_w")
    )
    deduped = (
        quality.groupBy(F.md5(F.col("text")).alias("_k"))
        .agg(F.min(F.struct("doc_id", "lang", "text")).alias("_r"))
        .select("_r.doc_id", "_r.lang", "_r.text")
    )
    cleaned = remove_duplicate_spans(deduped, "doc_id", "text", k=5)
    stats = cleaned.join(deduped.select("doc_id", "lang"), "doc_id")
    kept = F.col("n_tokens") - F.col("n_removed") >= 20
    return stats.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_in"),
        F.count(F.when(kept, 1)).cast("bigint").alias("n_docs_kept"),
        F.count(F.when(~kept, 1)).cast("bigint").alias("n_docs_dropped"),
        F.sum("n_tokens").cast("bigint").alias("tokens_before"),
        F.sum("n_removed").cast("bigint").alias("tokens_removed"),
        F.coalesce(
            F.sum(
                F.when(kept, F.col("n_tokens") - F.col("n_removed"))
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("tokens_after"),
    )


@query(
    "curate_decontaminate_spans",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents WHERE doc_id % 17 <> 0
    ),
    ev AS (
      SELECT regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents WHERE doc_id % 17 = 0
    ),
    eg AS (
      SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS g
      FROM ev, unnest(generate_series(1, greatest(len(w)-4, 0))) AS t(i)
    ),
    cg AS (
      SELECT doc_id, i AS start, array_to_string(w[i:i+4], ' ') AS g
      FROM corpus, unnest(generate_series(1, greatest(len(w)-4, 0))) AS t(i)
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
      FROM corpus, unnest(generate_series(1, len(w))) AS t(i)
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
    FROM corpus w
    LEFT JOIN ka ON ka.doc_id = w.doc_id
    LEFT JOIN runs r ON r.doc_id = w.doc_id
    """,
)
def curate_decontaminate_spans(spark, sf_dir):
    """SPAN-LEVEL benchmark decontamination: instead of dropping every
    corpus document that shares a 5-gram with the eval set
    (curate_decontaminate's whole-doc policy — high recall, high
    collateral), surgically cut only the leaked spans
    (dedup/substring.py::remove_spans_matching, ref = the doc_id%17
    eval split) and keep the rest of the document. The trade a real
    pretraining pipeline weighs: doc-drop loses ~17x more tokens than
    the contamination itself on this corpus; span-cut loses exactly the
    covered positions. Same output contract and oracle machinery as
    dedup_exact_substring; the reference side reduces to a DISTINCT
    gram set probed by a semi join (1x fan-out, persistable per corpus
    version). Plan inventory in dedup/substring.py."""
    from delfos_etl_pipeline_spark.dedup.substring import (
        remove_spans_matching,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 17 != 0)
    eval_df = docs.where(F.col("doc_id") % 17 == 0)
    return remove_spans_matching(corpus, eval_df, "doc_id", "text", k=5)


@query(
    "curate_boilerplate_strip",
    oracle="""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS words
      FROM documents
    ),
    segs AS (
      SELECT doc_id, t.seg,
             CAST(least(4, len(words) - t.i * 4) AS BIGINT) AS seg_len
      FROM w, LATERAL (
        SELECT i, array_to_string(
                 list_slice(words, i * 4 + 1, i * 4 + 4), ' ') AS seg
        FROM unnest(range(0, CAST((len(words) + 3) // 4 AS INT))) AS u(i)
      ) AS t
    ),
    boiler AS (
      SELECT seg FROM segs GROUP BY seg
      HAVING count(DISTINCT doc_id) >= 3
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(count(*) FILTER (b.seg IS NOT NULL) AS BIGINT)
             AS n_boiler_segs,
           CAST(coalesce(sum(s.seg_len) FILTER (b.seg IS NULL), 0)
                AS BIGINT) AS kept_tokens,
           CAST(coalesce(sum(s.seg_len) FILTER (b.seg IS NOT NULL), 0)
                AS BIGINT) AS removed_tokens
    FROM segs s LEFT JOIN boiler b ON s.seg = b.seg
    GROUP BY s.doc_id
    """,
)
def curate_boilerplate_strip(spark, sf_dir):
    """Frequency-based boilerplate removal (RefinedWeb/CCNet line-dedup
    analogue): segment every document into non-overlapping 4-token
    chunks, count each segment's distinct-document frequency across the
    corpus, and strip segments appearing in >= 3 documents — the
    cross-doc repetition threshold that separates boilerplate
    (headers, navigation, license blurbs) from content. Differs from
    dedup_exact_substring (any >=2 occurrences, including within one
    doc) in both unit (fixed segmentation grid) and predicate
    (distinct-DOC frequency >= k), which is exactly the RefinedWeb
    recipe. Returns the per-doc audit: segment counts and kept/removed
    token totals.

    Scale posture: one explode to the segment grid (linear in corpus
    tokens), one seg-keyed count-distinct (two-phase partial agg), one
    seg-keyed join back (AQE broadcasts the boilerplate side when it
    fits — it is frequency-thresholded, so it is the SMALL tail of the
    segment distribution), one doc-keyed agg. No windows, no driver
    state; the segs relation feeds both consumers through one persist
    so the explode runs once."""
    docs = _t(spark, sf_dir, "documents")
    seg_struct = F.expr(
        "transform(sequence(0, int((size(split(lower(text), '\\\\s+')) + 3) / 4) - 1),"
        " i -> struct("
        "   array_join(slice(split(lower(text), '\\\\s+'), i * 4 + 1, 4), ' ') AS seg,"
        "   cast(least(4, size(split(lower(text), '\\\\s+')) - i * 4) AS bigint) AS seg_len))"
    )
    segs = (
        docs.select("doc_id", F.explode(seg_struct).alias("s"))
        .select("doc_id", F.col("s.seg").alias("seg"), F.col("s.seg_len").alias("seg_len"))
        .persist()
    )
    boiler = (
        segs.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 3)
        .select("seg", F.lit(True).alias("is_boiler"))
    )
    is_b = F.coalesce(F.col("is_boiler"), F.lit(False))
    return (
        segs.join(boiler, "seg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum(is_b.cast("bigint")).cast("bigint").alias("n_boiler_segs"),
            F.coalesce(F.sum(F.when(~is_b, F.col("seg_len"))), F.lit(0))
            .cast("bigint").alias("kept_tokens"),
            F.coalesce(F.sum(F.when(is_b, F.col("seg_len"))), F.lit(0))
            .cast("bigint").alias("removed_tokens"),
        )
    )


@query(
    "curate_ppl_buckets",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             list_transform(range(1, length(text)), i -> substr(text, i, 2))
               AS bgs
      FROM documents WHERE length(text) >= 2
    ), dbg AS (
      SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, unnest(bgs) AS bg FROM b)
      GROUP BY doc_id, bg
    ), cb AS (
      SELECT bg, CAST(sum(cnt) AS BIGINT) AS nb FROM dbg GROUP BY bg
    ), cu AS (
      SELECT substr(bg, 1, 1) AS ch, CAST(sum(nb) AS BIGINT) AS nu
      FROM cb GROUP BY 1
    ), term AS (
      SELECT dbg.doc_id, dbg.cnt,
             CAST(floor(ln(nb * 1.0 / nu) * 1000000000.0 + 0.5)
                  / 1000000000.0 AS DECIMAL(18,9)) AS t
      FROM dbg
      JOIN cb USING (bg)
      JOIN cu ON substr(dbg.bg, 1, 1) = cu.ch
    ), sc AS (
      SELECT doc_id,
             CAST(floor((floor((CAST(sum(cnt * t) AS DOUBLE) / sum(cnt))
                               * 1000000.0 + 0.5) / 1000000.0)
                        * 1000000.0 + 0.5) AS BIGINT) AS score_ppm
      FROM term GROUP BY doc_id
    ), jj AS (
      SELECT d.lang, d.doc_id, d.n_chars, sc.score_ppm
      FROM sc JOIN documents d USING (doc_id)
    ), nt AS (
      SELECT lang, n_chars, score_ppm,
             ntile(3) OVER (PARTITION BY lang
                            ORDER BY score_ppm, doc_id) AS bucket
      FROM jj
    )
    SELECT lang, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(min(score_ppm) AS BIGINT) AS min_ppm,
           CAST(max(score_ppm) AS BIGINT) AS max_ppm
    FROM nt GROUP BY lang, bucket
    """,
)
def curate_ppl_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing: score every document with the
    self-trained char-bigram LM (text_lm_bigram_score, reused as-is),
    then split each language into head/middle/tail terciles by score —
    the partition CCNet uses to keep the fluent head, sample the
    middle, and drop the gibberish tail of a web crawl. Returns the
    per-(lang, bucket) audit: doc counts, char mass, and score range.

    The tercile assignment is NTILE(3) computed WITHOUT a
    single-task-per-language window: operators/rank.py::distributed_rank
    range-partitions on (lang, score, doc_id) so parallelism stays at
    partition-count even when one language dominates the corpus (the
    real skew profile of a web crawl: >40% English), then the exact
    NTILE arithmetic (first c%3 buckets take one extra row) is a
    projection from the rank and the broadcast per-lang counts. Score
    ties are pinned by doc_id, and the score itself is the 6-dp
    half-up-rounded LM average re-pinned to an integer ppm, so the
    ordering — hence every bucket boundary — is bit-identical
    cross-engine."""
    from delfos_etl_pipeline_spark.operators.rank import distributed_rank
    from delfos_etl_pipeline_spark.queries.text_quality import (
        text_lm_bigram_score,
    )

    scores = text_lm_bigram_score(spark, sf_dir).select(
        "doc_id",
        F.floor(F.col("avg_logprob") * 1000000.0 + F.lit(0.5))
        .cast("bigint")
        .alias("score_ppm"),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    jj = scores.join(docs, "doc_id")
    ranked = distributed_rank(
        jj, order_cols=("score_ppm", "doc_id"), key_cols=("lang",)
    )
    cnt = ranked.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    bucket = F.expr(
        "CAST(CASE WHEN rn <= (c % 3) * (c DIV 3 + 1)"
        " THEN (rn - 1) DIV (c DIV 3 + 1) + 1"
        " ELSE (c % 3) + (rn - (c % 3) * (c DIV 3 + 1) - 1) DIV (c DIV 3) + 1"
        " END AS BIGINT)"
    )
    return (
        ranked.join(F.broadcast(cnt), "lang")
        .withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("score_ppm").cast("bigint").alias("min_ppm"),
            F.max("score_ppm").cast("bigint").alias("max_ppm"),
        )
    )


@query(
    "curate_contamination_report",
    oracle="""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS words
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(words) - 4, 0) + 1),
               i -> array_to_string(list_slice(words, i, i + 4), ' ')))
               AS shingles
      FROM w
    ),
    evs AS (
      SELECT doc_id AS eval_doc_id, unnest(shingles) AS s
      FROM sh WHERE doc_id % 17 = 0
    ),
    evtot AS (
      SELECT eval_doc_id, CAST(count(*) AS BIGINT) AS n_shingles
      FROM evs GROUP BY 1
    ),
    cs AS (
      SELECT doc_id, unnest(shingles) AS s
      FROM sh WHERE doc_id % 17 <> 0
    ),
    hits AS (
      SELECT e.eval_doc_id,
             CAST(count(DISTINCT e.s) AS BIGINT) AS n_hit_shingles,
             CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_corpus_docs
      FROM evs e JOIN cs c ON c.s = e.s
      GROUP BY 1
    )
    SELECT t.eval_doc_id, t.n_shingles,
           CAST(coalesce(h.n_hit_shingles, 0) AS BIGINT) AS n_hit_shingles,
           CAST(coalesce(h.n_corpus_docs, 0) AS BIGINT) AS n_corpus_docs,
           CAST(floor(coalesce(h.n_hit_shingles, 0) * 1000000.0
                      / t.n_shingles + 0.5) AS BIGINT) AS contamination_ppm
    FROM evtot t LEFT JOIN hits h USING (eval_doc_id)
    """,
)
def curate_contamination_report(spark, sf_dir):
    """Per-EVAL-document contamination report — the view the evals team
    reads (which benchmark items are compromised, and how badly), dual
    to curate_decontaminate's corpus-side flags: for every eval doc
    (stand-in eval set: doc_id % 17 == 0), its distinct 5-gram count,
    how many of those shingles occur anywhere in the training corpus,
    how many distinct corpus docs hit it, and the contaminated-shingle
    share in integer ppm. An eval item with high contamination_ppm
    can't be trusted post-training even after the corpus side drops its
    matches (near-verbatim paraphrases keep leaking signal).

    Scale posture: the eval side is benchmark-sized — its exploded
    shingle relation broadcasts (persisted once, feeding both the
    totals agg and the join); the corpus side streams through ONE
    shingle explode against the broadcast, then a small eval-keyed agg.
    No corpus-side shuffle beyond the doc-keyed aggregate of hits."""
    from delfos_etl_pipeline_spark.dedup.ngram import shingle_arrays

    docs = _t(spark, sf_dir, "documents")
    ev_sh = (
        shingle_arrays(docs.where(F.col("doc_id") % 17 == 0),
                       "doc_id", "text", 5)
        .select(F.col("doc_id").alias("eval_doc_id"),
                F.explode_outer("shingles").alias("s"))
        .where(F.col("s").isNotNull())
        .persist()
    )
    ev_tot = ev_sh.groupBy("eval_doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    corp_sh = (
        shingle_arrays(docs.where(F.col("doc_id") % 17 != 0),
                       "doc_id", "text", 5)
        .select("doc_id", F.explode_outer("shingles").alias("s"))
        .where(F.col("s").isNotNull())
    )
    hits = (
        corp_sh.join(F.broadcast(ev_sh), "s")
        .groupBy("eval_doc_id")
        .agg(
            F.countDistinct("s").cast("bigint").alias("n_hit_shingles"),
            F.countDistinct("doc_id").cast("bigint").alias("n_corpus_docs"),
        )
    )
    nh = F.coalesce(F.col("n_hit_shingles"), F.lit(0)).cast("bigint")
    return (
        ev_tot.join(F.broadcast(hits), "eval_doc_id", "left")
        .select(
            "eval_doc_id",
            "n_shingles",
            nh.alias("n_hit_shingles"),
            F.coalesce(F.col("n_corpus_docs"), F.lit(0))
            .cast("bigint").alias("n_corpus_docs"),
            F.floor(nh * F.lit(1000000.0) / F.col("n_shingles") + F.lit(0.5))
            .cast("bigint").alias("contamination_ppm"),
        )
    )


@query(
    "curate_dsir_resample",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents
    ),
    uni AS (SELECT doc_id, lang, unnest(w) AS g FROM d),
    bi AS (
      SELECT doc_id, lang, w[i] || ' ' || w[i + 1] AS g
      FROM d, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)
    ),
    grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
    feat AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT) % 1024 AS f,
             CAST(count(*) AS BIGINT) AS c
      FROM grams GROUP BY 1, 2, 3
    ),
    rcs AS (SELECT f, CAST(sum(c) AS BIGINT) AS rc FROM feat GROUP BY f),
    tcs AS (SELECT f, CAST(sum(c) AS BIGINT) AS tc FROM feat
            WHERE lang = 'en' GROUP BY f),
    tot AS (SELECT (SELECT sum(rc) FROM rcs) AS R,
                   (SELECT coalesce(sum(tc), 0) FROM tcs) AS T),
    lam AS (
      SELECT rcs.f,
             CAST(floor((ln((coalesce(tcs.tc, 0) + 1.0) / (T + 1024.0))
                       - ln((rcs.rc + 1.0) / (R + 1024.0)))
                        * 1000000.0 + 0.5) AS BIGINT) AS lam_u
      FROM rcs LEFT JOIN tcs USING (f), tot
    )
    SELECT feat.doc_id, feat.lang,
           CAST(sum(feat.c) AS BIGINT) AS n_grams,
           CAST(sum(feat.c * lam.lam_u) AS BIGINT) AS weight_u
    FROM feat JOIN lam USING (f)
    GROUP BY feat.doc_id, feat.lang
    ORDER BY weight_u DESC, doc_id
    LIMIT 100
    """,
)
def curate_dsir_resample(spark, sf_dir):
    """DSIR-style importance resampling (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score
    every raw document by its log importance weight under two hashed
    bag-of-ngrams multinomials — a TARGET model fit on the in-domain
    slice (lang='en', the Wikipedia/books stand-in) and a RAW model fit
    on the whole corpus — then keep the top-100 most target-like docs.
    Features are word uni+bigrams hashed into 1024 buckets (md5 head,
    the certified cross-engine bucket key), so BOTH models are
    fixed-size count tables independent of vocabulary: at 100 TB they
    are still 1024 rows each, collected once and re-broadcast as a
    ≤1024-row λ lookup — the corpus-side plan is one linear gram pass,
    a (doc_id, bucket) map-side-combined agg, one broadcast join, and a
    doc-keyed integer sum (zero large-side shuffles beyond the doc-key
    agg; top-k is TakeOrderedAndProject, no global sort). Cross-engine
    exactness: the λ terms — floor((ln((tc+1)/(T+1024)) -
    ln((rc+1)/(R+1024)))·1e6 + 0.5) — are evaluated ONCE in driver-side
    Python over exact integer counts (host libm == DuckDB's ln, the
    text_lm_bigram_score contract) and pinned to BIGINT micro-units, so
    per-doc weights are exact integer sums, order-free under any
    partitioning."""
    import math

    docs = _t(spark, sf_dir, "documents")
    w = F.split(F.lower(F.col("text")), r"\s+")
    bound = docs.select("doc_id", "lang", w.alias("_w"))
    wc = F.col("_w")
    # Guarded sequence: Spark sequence(1, n-1) with n < 2 auto-steps DOWN
    # instead of returning empty (exactness-contract pitfall) — gate the
    # bigram build on size >= 2.
    bigrams = F.when(
        F.size(wc) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(wc) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(wc, i), F.element_at(wc, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = bound.select(
        "doc_id", "lang", F.explode(F.concat(wc, bigrams)).alias("g")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("bigint")
        % 1024
    )
    # Compact to (doc, bucket) multiplicities BEFORE any wide op: all
    # downstream joins/aggs carry <=1024 ints per doc, never gram strings.
    feat = (
        grams.select("doc_id", "lang", bucket.alias("f"))
        .groupBy("doc_id", "lang", "f")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # feeds the raw model, the target model, and the scoring join —
        # persist or the gram explode re-executes per consumer.
        .persist()
    )
    rcs = {
        r["f"]: r["rc"]
        for r in feat.groupBy("f")
        .agg(F.sum("c").cast("bigint").alias("rc"))
        .collect()
    }
    tcs = {
        r["f"]: r["tc"]
        for r in feat.where(F.col("lang") == "en")
        .groupBy("f")
        .agg(F.sum("c").cast("bigint").alias("tc"))
        .collect()
    }
    R, T = sum(rcs.values()), sum(tcs.values())
    lam = [
        (
            f,
            int(
                math.floor(
                    (
                        math.log((tcs.get(f, 0) + 1.0) / (T + 1024.0))
                        - math.log((rc + 1.0) / (R + 1024.0))
                    )
                    * 1000000.0
                    + 0.5
                )
            ),
        )
        for f, rc in rcs.items()
    ]
    lamdf = local_frame(spark, lam, "f bigint, lam_u bigint")
    return (
        feat.join(F.broadcast(lamdf), "f")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            F.sum(F.col("c") * F.col("lam_u")).cast("bigint").alias("weight_u"),
        )
        .orderBy(F.col("weight_u").desc(), "doc_id")
        .limit(100)
    )


@query(
    "curate_semantic_decontaminate",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    ev AS (SELECT * FROM n WHERE vec_id % 17 = 0),
    c AS (SELECT * FROM n WHERE vec_id % 17 <> 0),
    top AS (
      SELECT c.vec_id, ev.vec_id AS eval_vec_id,
             round(list_dot_product(c.e, ev.e) / (c.nrm * ev.nrm), 6)
               AS max_sim,
             row_number() OVER (
               PARTITION BY c.vec_id
               ORDER BY list_dot_product(c.e, ev.e) / (c.nrm * ev.nrm)
                        DESC, ev.vec_id) AS rk
      FROM c, ev
    )
    SELECT vec_id, eval_vec_id, max_sim,
           CAST(max_sim >= 0.4 AS BIGINT) AS contaminated
    FROM top WHERE rk = 1
    """,
)
def curate_semantic_decontaminate(spark, sf_dir):
    """SEMANTIC decontamination — the third tier after the lexical doc-
    (curate_decontaminate) and span- (curate_decontaminate_spans)
    checks: flag every corpus embedding whose nearest EVAL-set
    neighbor clears a cosine floor, catching paraphrased or translated
    benchmark leakage that shares no n-grams with the eval text (the
    embedding-similarity contamination screen frontier-lab data cards
    describe alongside n-gram overlap). Eval set = vec_id % 17 == 0
    (the curate_decontaminate residue convention); every corpus vector
    reports its top-1 eval neighbor, the 6-dp cosine, and the ≥ 0.4
    verdict. Built on cross_topk_blas: the eval side is collected under
    the reference guard and broadcast ONCE, the corpus side streams
    through one Arrow-batched BLAS matmul per batch — at 100 TB the
    corpus is never collected or shuffled (eval sets are ~1e3–1e5
    vectors, the textbook broadcast side), and a banded-LSH prefilter
    (embedding_near_dup_pairs_lsh) is the documented fallback if the
    eval set ever outgrows one broadcast. Oracle: the certified
    sim_knn_allpairs cross-join QUALIFY shape restricted to the
    eval×corpus rectangle."""
    from delfos_etl_pipeline_spark.similarity.knn import cross_topk_blas

    emb = _t(spark, sf_dir, "embeddings")
    ev = emb.where(F.col("vec_id") % 17 == 0)
    corpus = emb.where(F.col("vec_id") % 17 != 0)
    top1 = cross_topk_blas(corpus, ev, "vec_id", "embedding", k=1)
    return top1.select(
        F.col("id_a").alias("vec_id"),
        F.col("id_b").alias("eval_vec_id"),
        F.col("cosine_sim").alias("max_sim"),
        (F.col("cosine_sim") >= 0.4).cast("bigint").alias("contaminated"),
    )


#: curate_nightly_ingest's persisted semantic index (IVF cells over the
#: STANDING-CORPUS embeddings, doc_id%3 split), one per (process, sf_dir).
_NIGHTLY_IVF_STATE: dict = {}


#: Target IVF cell size for the nightly semantic stage (VERDICT r10
#: item 5): n_clusters scales with the corpus at CONSTANT cell size —
#: production IVF serving semantics, where per-probe work is
#: n_probe × cell_size regardless of corpus growth. 42 is calibrated so
#: the sf0.001/sf0.01 corpora (333 vectors) land exactly on the r10
#: fixed k=8 quantizer (ceil(333/42) = 8 — the certified behavior at the
#: driver SF is bit-unchanged), while sf0.1 (1,333) scales to k=32.
_NIGHTLY_TARGET_CELL_ROWS = 42


def _scaled_n_clusters(n_corpus: int) -> int:
    """max(8, ceil(corpus / target_cell_rows)) — the oracle computes the
    same expression in SQL (greatest(8, ceil(count(*) / 42.0))), so the
    quantizer size is a deterministic corpus function on both engines."""
    return max(8, -(-n_corpus // _NIGHTLY_TARGET_CELL_ROWS))


def _ensure_nightly_ivf_index(spark, sf_dir):
    """(path, centroids) for the nightly semantic check: the corpus-side
    embeddings (vec_id % 3 != 0 — vec_id is the doc_id stand-in key)
    assigned to max(8, ceil(|corpus|/42)) fixed cells (constant cell
    size as the corpus grows — see _NIGHTLY_TARGET_CELL_ROWS) and
    persisted partitionBy(cluster) ONCE per (process, corpus), like
    ensure_gram_index / ensure_minhash_index."""
    import atexit
    import os
    import shutil
    import tempfile

    from delfos_etl_pipeline_spark.similarity.ivf import (
        build_ivf_index_fixed,
        write_ivf_index,
    )

    from delfos_etl_pipeline_spark.similarity.knn import _as_double, _dot

    state = _NIGHTLY_IVF_STATE.get(sf_dir)
    if state is None:
        emb = _t(spark, sf_dir, "embeddings")
        corpus = emb.where(F.col("vec_id") % 3 != 0)
        assigned, cents = build_ivf_index_fixed(
            corpus, "vec_id", "embedding",
            n_clusters=_scaled_n_clusters(corpus.count()),
        )
        workdir = tempfile.mkdtemp(prefix="nightly_ivf_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        path = os.path.join(workdir, "index")
        # the L2 norm is a pure per-row function of the stored vector
        # (same sequential fold the oracle's sqrt(list_dot_product(e,e))
        # uses; doubles round-trip parquet bit-exactly), so precomputing
        # it at index-build time is free exactness-wise and removes one
        # of the three 64-element folds per probed PAIR at query time —
        # the classic store-the-norm ANN index layout
        e = _as_double("embedding")
        write_ivf_index(
            assigned.select(
                "vec_id", "embedding",
                F.sqrt(_dot(e, e)).alias("cv_n"), "cluster",
            ),
            path,
        )
        state = (path, cents)
        _NIGHTLY_IVF_STATE[sf_dir] = state
    return state


def _nightly_ctes(
    p: str,
    batch_pred: str,
    ref_pred: str,
    emb_batch_pred: str,
    emb_ref_pred: str,
    cent_pred: str,
) -> str:
    """CTE chain of the nightly-ingest FROM-SCRATCH replay, parameterized
    on the batch/reference split predicates (VERDICT r10 item 1). The
    single-day oracle (_NIGHTLY_ORACLE) instantiates it once with the
    doc_id % 3 split; the day-2 maintenance oracle (_DAY2_ORACLE)
    instantiates it TWICE in one flat WITH list — a ``d1_``-prefixed
    replay whose accepted documents feed the ``d2_`` chain's reference
    predicates — so the day-2 hash match certifies the MERGED indexes
    equal a from-scratch rebuild over corpus ∪ day-1 keeps.

    ``cent_pred`` selects the quantizer training set and stays the DAY-0
    corpus in BOTH chains: IVF serving freezes the quantizer at build
    time — ingest grows cells, it never re-trains centroids
    (similarity/ivf.py::merge_into_ivf_index)."""
    return f"""
    {p}batch AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents WHERE {batch_pred}
    ),
    {p}ref AS (
      SELECT regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents WHERE {ref_pred}
    ),
    {p}eg AS (
      SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS g
      FROM {p}ref, unnest(generate_series(1, greatest(len(w)-4, 0))) AS t(i)
    ),
    {p}cg AS (
      SELECT doc_id, i AS start, array_to_string(w[i:i+4], ' ') AS g
      FROM {p}batch, unnest(generate_series(1, greatest(len(w)-4, 0))) AS t(i)
    ),
    {p}dstart AS (
      SELECT doc_id, start FROM {p}cg WHERE g IN (SELECT g FROM {p}eg)
    ),
    {p}covered AS (
      SELECT DISTINCT doc_id, start + j AS pos
      FROM {p}dstart, unnest(generate_series(0, 4)) AS t(j)
    ),
    {p}cov_ct AS (
      SELECT doc_id, count(*) AS n_rm FROM {p}covered GROUP BY doc_id
    ),
    {p}sub AS (
      SELECT b.doc_id, CAST(len(b.w) AS BIGINT) AS n_tokens,
             CAST(coalesce(c.n_rm, 0) AS BIGINT) AS n_removed,
             floor(coalesce(c.n_rm, 0) * 1.0 / len(b.w) * 1000000.0 + 0.5)
               / 1000000.0 AS removed_fraction
      FROM {p}batch b LEFT JOIN {p}cov_ct c USING (doc_id)
    ),
    {p}d AS (
      SELECT doc_id, ({batch_pred}) AS is_new, ({ref_pred}) AS is_ref,
             regexp_split_to_array(lower(text), '\\s+') AS words
      FROM documents
    ),
    {p}sh AS (
      SELECT doc_id, is_new, is_ref,
             list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 0) + 1),
               i -> array_to_string(list_slice(words, i, i + 2), ' ')
             )) AS shingles
      FROM {p}d WHERE is_new OR is_ref
    ),
    {p}sig AS (
      SELECT doc_id, is_new, is_ref,
             list_transform(range(0, 64), i ->
               list_min(list_transform(shingles,
                 s -> md5(i::VARCHAR || '|' || s)))) AS sg
      FROM {p}sh WHERE len(shingles) > 0
    ),
    {p}bands AS (
      SELECT doc_id, is_new, is_ref, band,
             md5(array_to_string(
               list_slice(sg, band * 4 + 1, band * 4 + 4), '|')) AS bucket
      FROM {p}sig, unnest(range(0, 16)) AS t(band)
    ),
    {p}cand AS (
      SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_old
      FROM {p}bands a JOIN {p}bands b
        ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.is_new AND b.is_ref
    ),
    {p}j AS (
      SELECT c.doc_new, c.doc_old,
             len(list_intersect(x.shingles, y.shingles)) AS shared,
             len(x.shingles) AS sa, len(y.shingles) AS sb
      FROM {p}cand c
      JOIN {p}sh x ON x.doc_id = c.doc_new
      JOIN {p}sh y ON y.doc_id = c.doc_old
    ),
    {p}mh AS (
      SELECT doc_new AS doc_id,
             max(round(shared * 1.0 / (sa + sb - shared), 6)) AS top_jaccard
      FROM {p}j
      WHERE round(shared * 1.0 / (sa + sb - shared), 6) >= 0.6
      GROUP BY doc_new
    ),
    {p}v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    {p}corp AS (SELECT vec_id, e FROM {p}v WHERE {emb_ref_pred}),
    {p}bvec AS (SELECT vec_id, e FROM {p}v WHERE {emb_batch_pred}),
    {p}cent AS (
      SELECT rn - 1 AS cid, e AS ce
      FROM (SELECT row_number() OVER (ORDER BY vec_id) AS rn, e
            FROM {p}v WHERE {cent_pred})
      WHERE rn <= (SELECT greatest(8, CAST(ceil(count(*) / 42.0) AS BIGINT))
                   FROM {p}v WHERE {cent_pred})
    ),
    {p}assign AS (
      SELECT c.vec_id, c.e, t.cid AS cluster
      FROM {p}corp c JOIN {p}cent t ON true
      QUALIFY row_number() OVER (PARTITION BY c.vec_id ORDER BY
        list_dot_product(c.e, t.ce) /
          (sqrt(list_dot_product(c.e, c.e)) *
           sqrt(list_dot_product(t.ce, t.ce))) DESC, t.cid) = 1
    ),
    {p}probe AS (
      SELECT b.vec_id AS bq_id, t.cid FROM {p}bvec b JOIN {p}cent t ON true
      QUALIFY row_number() OVER (PARTITION BY b.vec_id ORDER BY
        list_dot_product(b.e, t.ce) /
          (sqrt(list_dot_product(b.e, b.e)) *
           sqrt(list_dot_product(t.ce, t.ce))) DESC, t.cid) <= 2
    ),
    {p}sem AS (
      SELECT p.bq_id,
             max(round(list_dot_product(b.e, a.e) /
                 (sqrt(list_dot_product(b.e, b.e)) *
                  sqrt(list_dot_product(a.e, a.e))), 6)) AS sem_top1_sim
      FROM {p}probe p
      JOIN {p}assign a ON a.cluster = p.cid
      JOIN {p}bvec b ON b.vec_id = p.bq_id
      GROUP BY p.bq_id
    )"""


def _nightly_select(p: str) -> str:
    """Final disposition projection over a :func:`_nightly_ctes` chain."""
    return f"""
    SELECT s.doc_id, s.n_tokens, s.n_removed, s.removed_fraction,
           coalesce(m.top_jaccard, 0.0) AS top_jaccard,
           CAST(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS near_dup,
           se.sem_top1_sim AS sem_top1_sim,
           CASE WHEN m.doc_id IS NOT NULL THEN 'drop_near_dup'
                WHEN se.sem_top1_sim >= 0.4 THEN 'drop_semantic'
                WHEN s.removed_fraction >= 0.5 THEN 'drop_substring_heavy'
                WHEN s.n_removed > 0 THEN 'keep_cleaned'
                ELSE 'keep' END AS disposition
    FROM {p}sub s
    LEFT JOIN {p}mh m ON m.doc_id = s.doc_id
    LEFT JOIN {p}sem se ON se.bq_id = s.doc_id"""


_NIGHTLY_ORACLE = (
    "WITH"
    + _nightly_ctes(
        "",
        "doc_id % 3 = 0",
        "doc_id % 3 <> 0",
        "vec_id % 3 = 0",
        "vec_id % 3 <> 0",
        "vec_id % 3 <> 0",
    )
    + _nightly_select("")
)


def _disposition_plan(
    spark, sf_dir, doc_pred, vec_pred, gram_path, mh_path, ivf_path, cents,
    gram_net_counts=False,
):
    """The composed nightly-ingest PROBE plan, shared verbatim by the
    single-day flagship (curate_nightly_ingest) and the day-2/day-3
    maintenance queries (curate_nightly_ingest_day2/_day3): the batch
    selected by ``doc_pred``/``vec_pred`` runs through the three
    PERSISTED standing-corpus indexes at
    ``gram_path``/``mh_path``/``ivf_path`` (quantizer ``cents`` frozen
    at build time) and emits one disposition row per batch document.
    All corpus-side work lives in the index materializations; this plan
    pays only O(batch grams + gram probe) + O(batch signatures + bucket
    probe) + O(batch × probed cells).

    Deletion-awareness (VERDICT r11 item 1) costs nothing until used:
    the MinHash probe and the IVF read anti-join tombstone relations
    only when the index has absorbed a takedown (day-3 state), and
    ``gram_net_counts=True`` switches the gram probe to the
    refcount-netting form a post-removal counted index requires —
    day-1/day-2 states keep the plain set semi-join (all generations
    additive), so their certified plans are byte-unchanged.

    ``doc_pred``/``vec_pred`` may each be a Column predicate (the
    modulo-split batches) or a single-id-column DataFrame (a manifest —
    the day-3 re-ingest batch IS the takedown manifest), applied as a
    broadcast semi-join: at 100 TB a manifest is a relation, never a
    thousand-literal isin folded into every scan."""
    from delfos_etl_pipeline_spark.dedup.minhash import (
        minhash_lsh_pairs_indexed,
    )
    from delfos_etl_pipeline_spark.dedup.substring import (
        remove_spans_matching_indexed,
    )
    from delfos_etl_pipeline_spark.similarity.knn import (
        _as_double,
        _dot,
        _lit_mat,
        _lit_vec,
        cosine_similarity_col,
    )

    docs = _t(spark, sf_dir, "documents")
    if isinstance(doc_pred, DataFrame):
        batch = docs.join(
            F.broadcast(doc_pred.select(F.col(doc_pred.columns[0]).alias("doc_id"))),
            "doc_id",
            "left_semi",
        )
    else:
        batch = docs.where(doc_pred)
    sub = remove_spans_matching_indexed(
        batch, gram_path, "doc_id", "text", k=5, hashed=False,
        net_counts=gram_net_counts,
    )
    mh = (
        minhash_lsh_pairs_indexed(
            batch, mh_path, "doc_id", "text",
            n=3, threshold=0.6, hash_fn="md5",
        )
        .groupBy("doc_new")
        .agg(F.max("jaccard").alias("top_jaccard"))
    )
    emb = _t(spark, sf_dir, "embeddings")
    v = _as_double("embedding")
    # per-batch-vector probe-cell choice: argtop-2 cosine over the k
    # centroid literals (k scale-aware — _scaled_n_clusters), ties to
    # the LOWEST cid (sort_array DESC on (sim, -cid) structs == the
    # oracle's ORDER BY sim DESC, cid ASC). Two bit-identical physical
    # forms, the assign_fixed_centroids tradeoff exactly: k inlined
    # codegen cosine copies for small quantizers, ONE transform() lambda
    # over the literal centroid matrix beyond — at k=32 the inlined form
    # put 32 64-dim-literal cosine trees into a plan that is BUILT per
    # invocation (and twice: once on the batch side, once inside the DPP
    # subquery), and plan construction/analysis dominated the probe
    # (measured 5.2s vs 4.2s at sf0.1 on identical execution work; the
    # lambda form restored it — same folds, same doubles, same oracle).
    if len(cents) <= 8:
        scored = F.array(
            *[
                F.struct(
                    cosine_similarity_col(v, _lit_vec(c)).alias("sim"),
                    F.lit(-i).alias("negcid"),
                )
                for i, c in enumerate(cents)
            ]
        )
    else:
        sims = F.transform(
            _lit_mat(cents), lambda c: cosine_similarity_col(v, c)
        )
        scored = F.zip_with(
            sims,
            F.expr(f"sequence(0, {len(cents) - 1})"),
            lambda s, i: F.struct(s.alias("sim"), (-i).alias("negcid")),
        )
    cells = F.transform(
        F.slice(F.sort_array(scored, asc=False), 1, 2),
        lambda s: -s["negcid"],
    )
    # norms are hoisted OUT of the pair join: the batch norm is one fold
    # per batch row (before the explode), the corpus norm is read from
    # the index (precomputed at build — _ensure_nightly_ivf_index), so
    # each of the ~|batch| x n_probe/n_clusters x |corpus| probed pairs
    # pays ONE 64-element dot fold instead of three (measured 5.2s ->
    # ~1.8s at sf0.1). Same doubles, same association as the oracle's
    # dot(b,a) / (sqrt(dot(b,b)) * sqrt(dot(a,a))).
    if isinstance(vec_pred, DataFrame):
        emb_batch = emb.join(
            F.broadcast(vec_pred.select(F.col(vec_pred.columns[0]).alias("vec_id"))),
            "vec_id",
            "left_semi",
        )
    else:
        emb_batch = emb.where(vec_pred)
    bq = emb_batch.select(
        F.col("vec_id").alias("bq_id"),
        v.alias("bq_e"),
        F.sqrt(_dot(v, v)).alias("bq_n"),
        F.explode(cells).alias("cell"),
    )
    from delfos_etl_pipeline_spark.similarity.ivf import read_ivf_index

    idx = read_ivf_index(spark, ivf_path, "vec_id").select(
        _as_double("embedding").alias("cv_e"), "cv_n", "cluster"
    )
    sem = (
        bq.join(idx, bq["cell"] == idx["cluster"])
        .select(
            "bq_id",
            F.round(
                _dot(F.col("bq_e"), F.col("cv_e"))
                / (F.col("bq_n") * F.col("cv_n")),
                6,
            ).alias("s"),
        )
        .groupBy("bq_id")
        .agg(F.max("s").alias("sem_top1_sim"))
    )
    near = F.col("doc_new").isNotNull()
    return (
        sub.select("doc_id", "n_tokens", "n_removed", "removed_fraction")
        .join(mh, F.col("doc_id") == mh["doc_new"], "left")
        .join(sem, F.col("doc_id") == sem["bq_id"], "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_removed",
            "removed_fraction",
            F.coalesce(F.col("top_jaccard"), F.lit(0.0)).alias("top_jaccard"),
            near.cast("long").alias("near_dup"),
            F.col("sem_top1_sim"),
            F.when(near, "drop_near_dup")
            .when(F.col("sem_top1_sim") >= 0.4, "drop_semantic")
            .when(F.col("removed_fraction") >= 0.5, "drop_substring_heavy")
            .when(F.col("n_removed") > 0, "keep_cleaned")
            .otherwise("keep")
            .alias("disposition"),
        )
    )


@query("curate_nightly_ingest", oracle=_NIGHTLY_ORACLE)
def curate_nightly_ingest(spark, sf_dir):
    """The COMPOSED incremental nightly flagship (VERDICT r9 item 6):
    the arriving batch (doc_id % 3 == 0) runs through ALL THREE
    persisted standing-corpus indexes in one plan and emits a
    per-document disposition —

    1. gram substring cut: probe the persisted 5-gram index
       (ensure_gram_index — the dedup_substring_incremental relation)
       for corpus-duplicated span removal (n_removed/removed_fraction);
    2. MinHash near-dup flag: probe the persisted band-bucket + shingle
       index (ensure_minhash_index — the
       dedup_minhash_incremental_indexed relations) for jaccard >= 0.6
       corpus near-duplicates (top_jaccard/near_dup);
    3. IVF semantic neighbor check: each batch embedding (vec_id is the
       doc_id stand-in key) probes its 2 nearest cells of the persisted
       partitionBy(cluster) corpus index for its max corpus cosine
       (sem_top1_sim; 0.4 is the drop gate calibrated to this synthetic
       corpus — real embeddings would gate ~0.95).

    The oracle chains the three certified FROM-SCRATCH replays
    (dedup_substring_incremental's span cut, _INCR_MINHASH_ORACLE's
    banding, the sim_ivf fixed-quantizer assignment/probe), so the hash
    match certifies the three materializations COMPOSE — each index was
    previously certified alone. Each query/bench invocation pays only
    batch-side work: O(batch grams + gram probe) + O(batch signatures +
    bucket probe) + O(batch × probed cells); the standing corpus is
    never re-tokenized, re-hashed, re-banded, or re-assigned. At 100 TB
    this is the whole nightly ingest path as ONE number."""
    from delfos_etl_pipeline_spark.queries.dedup import (
        ensure_gram_index,
        ensure_minhash_index,
    )

    ivf_path, cents = _ensure_nightly_ivf_index(spark, sf_dir)
    return _disposition_plan(
        spark,
        sf_dir,
        F.col("doc_id") % 3 == 0,
        F.col("vec_id") % 3 == 0,
        ensure_gram_index(spark, sf_dir),
        ensure_minhash_index(spark, sf_dir),
        ivf_path,
        cents,
    )


#: curate_nightly_ingest_day2's merged-index state, one per
#: (process, sf_dir) — see _ensure_day2_indexes.
_DAY2_STATE: dict = {}


def _merge_keeps_into(
    spark, sf_dir, keeps, gram, mh, ivf, cents, batch_id
):
    """One nightly CLOSE: merge the accepted documents (``keeps`` —
    doc_id rows; original text; embeddings assigned to the FROZEN
    quantizer ``cents``) into the three index materializations via the
    append-only maintenance functions — pure O(keeps) appends, each
    idempotent under crash/retry via ``batch_id``
    (sinks.committed_append, ADVICE r11). Shared by the day-1 close
    (_ensure_day2_indexes) and the day-2 close (_ensure_day3_state)."""
    from delfos_etl_pipeline_spark.dedup.minhash import (
        merge_into_minhash_index,
    )
    from delfos_etl_pipeline_spark.dedup.substring import (
        merge_into_gram_index,
    )
    from delfos_etl_pipeline_spark.similarity.ivf import (
        assign_fixed_centroids,
        merge_into_ivf_index,
    )
    from delfos_etl_pipeline_spark.similarity.knn import _as_double, _dot

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    e = _as_double("embedding")
    keep_docs = docs.join(keeps, "doc_id", "left_semi")
    merge_into_gram_index(keep_docs, gram, "doc_id", "text",
                          k=5, hashed=False, counted=True,
                          batch_id=batch_id)
    merge_into_minhash_index(keep_docs, mh, "doc_id", "text",
                             n=3, hash_fn="md5", batch_id=batch_id)
    keep_emb = emb.join(
        keeps.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left_semi"
    )
    merge_into_ivf_index(
        assign_fixed_centroids(keep_emb, cents, inline=True).select(
            "vec_id", "embedding",
            F.sqrt(_dot(e, e)).alias("cv_n"), "cluster",
        ),
        ivf,
        batch_id=batch_id,
    )


def _ensure_day2_indexes(spark, sf_dir):
    """Day-2 maintenance state (VERDICT r10 item 1), built ONCE per
    (process, corpus): private COPIES of the three shared standing-
    corpus materializations (VERDICT r11 item 5 — the corpus is
    tokenized/hashed/assigned exactly once per process by the
    ensure_gram_index / ensure_minhash_index / _ensure_nightly_ivf_index
    accessors; maintenance MUTATES its indexes, so it clones the
    directories instead of rebuilding them — at 100 TB the clone is a
    metadata-level snapshot/shallow-copy, here a copytree), the day-1
    batch (doc_id % 6 == 0) ingested through them, its disposition
    table materialized (the nightly run's output relation), and the
    ACCEPTED documents (disposition keep/keep_cleaned) merged into all
    three indexes via the append-only maintenance functions with a
    retry-safe batch id. Returns (gram_path, mh_path, ivf_path, cents,
    disp1_path) — the merged state the day-2 query probes, plus the
    materialized day-1 dispositions the day-3 state derives its keeps
    from.

    At 100 TB each nightly close is O(day's keeps): append the keeps'
    grams, band+shingle rows, and assigned vectors as new files/
    partitions; the standing index rows are never read, rewritten, or
    re-derived. Day N+1 then dedups against corpus ∪ all prior keeps
    without a rebuild — the gap VERDICT r10 named ('day N+1 either
    rebuilds from scratch or silently dedups against a stale corpus')."""
    import atexit
    import os
    import shutil
    import tempfile

    from delfos_etl_pipeline_spark.queries.dedup import (
        ensure_gram_index,
        ensure_minhash_index,
    )
    from delfos_etl_pipeline_spark.sources.sinks import clone_index

    state = _DAY2_STATE.get(sf_dir)
    if state is None:
        workdir = tempfile.mkdtemp(prefix="nightly_day2_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        gram = os.path.join(workdir, "grams")
        mh = os.path.join(workdir, "lsh")
        ivf = os.path.join(workdir, "ivf")

        # day 0: clone the shared standing-corpus materializations (same
        # params as the certified single-stage queries: counted literal
        # 5-grams, md5 3-shingle MinHash, scale-aware fixed-cell IVF +
        # precomputed L2 norms) — one corpus-side build per process
        clone_index(ensure_gram_index(spark, sf_dir), gram)
        clone_index(ensure_minhash_index(spark, sf_dir), mh)
        ivf_src, cents = _ensure_nightly_ivf_index(spark, sf_dir)
        clone_index(ivf_src, ivf)

        # day 1: ingest the batch, MATERIALIZE its dispositions (the
        # nightly run's output table in production — also breaks lineage,
        # so the merges below never re-read the index paths they append
        # to inside their own write jobs)
        disp1 = os.path.join(workdir, "disp_day1")
        _disposition_plan(
            spark, sf_dir,
            F.col("doc_id") % 6 == 0, F.col("vec_id") % 6 == 0,
            gram, mh, ivf, cents,
        ).write.parquet(disp1)
        keeps = (
            spark.read.parquet(disp1)
            .where(F.col("disposition").isin("keep", "keep_cleaned"))
            .select("doc_id")
        )

        # close of day 1: merge the accepted batch into the standing
        # indexes — pure O(keeps) appends, frozen quantizer, retry-safe
        _merge_keeps_into(
            spark, sf_dir, keeps, gram, mh, ivf, cents, batch_id="day1"
        )
        state = (gram, mh, ivf, cents, disp1)
        _DAY2_STATE[sf_dir] = state
    return state


_DAY2_ORACLE = (
    "WITH"
    + _nightly_ctes(
        "d1_",
        "doc_id % 6 = 0",
        "doc_id % 3 <> 0",
        "vec_id % 6 = 0",
        "vec_id % 3 <> 0",
        "vec_id % 3 <> 0",
    )
    + ",\n    k1 AS (\n      SELECT doc_id FROM ("
    + _nightly_select("d1_")
    + "\n      ) WHERE disposition IN ('keep', 'keep_cleaned')\n    ),"
    + _nightly_ctes(
        "d2_",
        "doc_id % 6 = 3",
        "doc_id % 3 <> 0 OR doc_id IN (SELECT doc_id FROM k1)",
        "vec_id % 6 = 3",
        "vec_id % 3 <> 0 OR vec_id IN (SELECT doc_id FROM k1)",
        "vec_id % 3 <> 0",
    )
    + _nightly_select("d2_")
)


@query("curate_nightly_ingest_day2", oracle=_DAY2_ORACLE)
def curate_nightly_ingest_day2(spark, sf_dir):
    """Certified index MAINTENANCE (VERDICT r10 item 1): day 2 of the
    nightly pipeline probes indexes that were MERGED, not rebuilt. The
    one-time state (_ensure_day2_indexes) builds the day-0 indexes over
    the standing corpus (doc_id % 3 != 0), ingests the day-1 batch
    (doc_id % 6 == 0), and appends its accepted documents' grams,
    band-bucket + shingle rows, and frozen-quantizer-assigned embeddings
    into the three indexes; this query then runs the day-2 batch
    (doc_id % 6 == 3) through the MERGED state — the same
    _disposition_plan the single-day flagship executes, byte for byte.

    The oracle is the from-scratch replay over corpus ∪ day-1 keeps: a
    d1_-prefixed replay of the whole nightly chain derives the keeps in
    SQL, and the d2_ chain rebuilds every reference relation (gram set,
    bands, shingles, cell assignment — frozen day-0 centroids) from that
    union. The hash match therefore certifies BOTH layers at once: the
    day-1 dispositions the merge ingested, and that append-only
    maintenance (merge_into_gram_index / merge_into_minhash_index /
    merge_into_ivf_index) is bit-identical to rebuilding each index from
    the union. At 100 TB: nightly close appends O(keeps) rows; day N+1
    probes pay the same O(batch) the single-day flagship pays — the
    standing corpus is never re-touched on ANY day."""
    gram, mh, ivf, cents, _disp1 = _ensure_day2_indexes(spark, sf_dir)
    return _disposition_plan(
        spark,
        sf_dir,
        F.col("doc_id") % 6 == 3,
        F.col("vec_id") % 6 == 3,
        gram,
        mh,
        ivf,
        cents,
    )


#: curate_nightly_ingest_day2_streamed's streaming-merged state, one per
#: (process, sf_dir) — see _ensure_day2_streamed_indexes.
_DAY2_STREAMED_STATE: dict = {}


def _ensure_day2_streamed_indexes(spark, sf_dir):
    """The day-2 maintenance state built through the STREAMING sinks
    (streaming/index_ingest.py) instead of the batch merge calls: fresh
    day-0 clones of the shared standing-corpus materializations, the
    day-1 keeps (read back from the materialized day-1 dispositions —
    the same relation the batch path merges) staged as a 3-file parquet
    source and drained availableNow through run_document_index_ingest /
    run_vector_index_ingest — three micro-batches per stream, each an
    epoch-tagged committed_append, the vector sink carrying the nightly
    store's precomputed ``cv_n`` norm column. Returns (gram, mh, ivf,
    cents): a merged state that must be bit-indistinguishable from the
    batch-merged one, which curate_nightly_ingest_day2_streamed's
    shared oracle certifies."""
    import atexit
    import os
    import shutil
    import tempfile

    from delfos_etl_pipeline_spark.queries.dedup import (
        ensure_gram_index,
        ensure_minhash_index,
    )
    from delfos_etl_pipeline_spark.sources.sinks import clone_index
    from delfos_etl_pipeline_spark.streaming.index_ingest import (
        run_document_index_ingest,
        run_vector_index_ingest,
    )
    from delfos_etl_pipeline_spark.streaming.runner import (
        read_parquet_stream,
    )

    state = _DAY2_STREAMED_STATE.get(sf_dir)
    if state is None:
        workdir = tempfile.mkdtemp(prefix="nightly_day2s_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        gram = os.path.join(workdir, "grams")
        mh = os.path.join(workdir, "lsh")
        ivf = os.path.join(workdir, "ivf")
        clone_index(ensure_gram_index(spark, sf_dir), gram)
        clone_index(ensure_minhash_index(spark, sf_dir), mh)
        ivf_src, cents = _ensure_nightly_ivf_index(spark, sf_dir)
        clone_index(ivf_src, ivf)

        # the day-1 keeps: the SAME materialized dispositions the batch
        # path merges (one day-1 probe per process, shared)
        _g2, _m2, _i2, _c2, disp1 = _ensure_day2_indexes(spark, sf_dir)
        keeps = (
            spark.read.parquet(disp1)
            .where(F.col("disposition").isin("keep", "keep_cleaned"))
            .select("doc_id")
        )
        docs = _t(spark, sf_dir, "documents")
        emb = _t(spark, sf_dir, "embeddings")
        stage_docs = os.path.join(workdir, "stage_docs")
        docs.join(keeps, "doc_id", "left_semi").select(
            "doc_id", "text"
        ).repartition(3).write.parquet(stage_docs)
        stage_vecs = os.path.join(workdir, "stage_vecs")
        emb.join(
            keeps.withColumnRenamed("doc_id", "vec_id"), "vec_id",
            "left_semi",
        ).select("vec_id", "embedding").repartition(3).write.parquet(
            stage_vecs
        )

        q = run_document_index_ingest(
            read_parquet_stream(
                spark, stage_docs,
                spark.read.parquet(stage_docs).schema,
                max_files_per_trigger=1,
            ),
            gram, mh, os.path.join(workdir, "ckpt_docs"),
            stream_id="day1",
        )
        assert q.awaitTermination(240), "document ingest stream timed out"
        q2 = run_vector_index_ingest(
            read_parquet_stream(
                spark, stage_vecs,
                spark.read.parquet(stage_vecs).schema,
                max_files_per_trigger=1,
            ),
            ivf, cents, os.path.join(workdir, "ckpt_vecs"),
            stream_id="day1", with_norm=True,
        )
        assert q2.awaitTermination(240), "vector ingest stream timed out"
        state = (gram, mh, ivf, cents)
        _DAY2_STREAMED_STATE[sf_dir] = state
    return state


@query("curate_nightly_ingest_day2_streamed", oracle=_DAY2_ORACLE)
def curate_nightly_ingest_day2_streamed(spark, sf_dir):
    """Certified STREAMING index maintenance: identical to
    curate_nightly_ingest_day2 except that the day-1 keeps reach the
    standing indexes through the Structured Streaming sinks
    (streaming/index_ingest.py — three availableNow micro-batches per
    stream, each merge an epoch-tagged committed_append) instead of one
    batch merge call. The oracle is _DAY2_ORACLE verbatim — the
    from-scratch replay over corpus ∪ day-1 keeps — so one driver hash
    pins the full equivalence: streaming-merged ≡ batch-merged
    (day-2's green row) ≡ rebuilt-from-scratch, for all three index
    families at once. This is the continuous-crawl shape at 100 TB: the
    nightly close becomes a stream sink, exactly-once under micro-batch
    failure replay (the done-marker protocol; pytest pins the replay
    no-op), with the same O(batch) append cost the batch path measured
    flat across a 10× corpus (SCALE.md round 13)."""
    gram, mh, ivf, cents = _ensure_day2_streamed_indexes(spark, sf_dir)
    return _disposition_plan(
        spark,
        sf_dir,
        F.col("doc_id") % 6 == 3,
        F.col("vec_id") % 6 == 3,
        gram,
        mh,
        ivf,
        cents,
    )


#: curate_nightly_ingest_day3's post-takedown state, one per
#: (process, sf_dir) — see _ensure_day3_state.
_DAY3_STATE: dict = {}


def _ensure_day3_state(spark, sf_dir):
    """Day-3 DELETION state (VERDICT r11 item 1), built ONCE per
    (process, corpus), extending the day-2 maintenance story to the full
    index lifecycle — build → probe → merge → REMOVE:

    1. clone the day-2 MERGED state (corpus ∪ day-1 keeps; private
       copies again, because this chapter mutates further);
    2. run the day-2 batch (doc_id % 6 == 3) through it and materialize
       the dispositions (the same probe curate_nightly_ingest_day2
       certifies — here it becomes day 2's nightly output table);
    3. close day 2: merge the day-2 keeps (k2) via the append-only
       maintenance functions, retry-safe batch id "day2";
    4. TAKEDOWN: every indexed document with doc_id % 5 == 1 (across
       all three generations — base corpus, day-1 keeps, day-2 keeps;
       the stand-in for a licensing/right-to-be-forgotten manifest) is
       removed from all three indexes — negative doc-refcounts appended
       to the counted gram index, tombstone relations appended beside
       the MinHash and IVF stores. O(|manifest|); standing files never
       read or rewritten; physical reclamation deferred to the
       compact_* family.

    Returns (gram, mh, ivf, cents, k1_ids, k2_ids): the post-takedown
    index paths, the frozen day-0 quantizer, and the keep manifests the
    day-3 query needs to reconstruct the takedown predicate."""
    import atexit
    import os
    import shutil
    import tempfile

    from delfos_etl_pipeline_spark.dedup.minhash import (
        remove_from_minhash_index,
    )
    from delfos_etl_pipeline_spark.dedup.substring import (
        remove_from_gram_index,
    )
    from delfos_etl_pipeline_spark.sources.sinks import clone_index
    from delfos_etl_pipeline_spark.similarity.ivf import (
        remove_from_ivf_index,
    )

    state = _DAY3_STATE.get(sf_dir)
    if state is None:
        gram2, mh2, ivf2, cents, disp1 = _ensure_day2_indexes(spark, sf_dir)
        workdir = tempfile.mkdtemp(prefix="nightly_day3_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        gram = os.path.join(workdir, "grams")
        mh = os.path.join(workdir, "lsh")
        ivf = os.path.join(workdir, "ivf")
        clone_index(gram2, gram)
        clone_index(mh2, mh)
        clone_index(ivf2, ivf)

        # day 2: probe + materialize (the nightly output table), then
        # close the day by merging the keeps
        disp2 = os.path.join(workdir, "disp_day2")
        _disposition_plan(
            spark, sf_dir,
            F.col("doc_id") % 6 == 3, F.col("vec_id") % 6 == 3,
            gram, mh, ivf, cents,
        ).write.parquet(disp2)

        def _keep_ids(path):
            return sorted(
                r[0]
                for r in spark.read.parquet(path)
                .where(F.col("disposition").isin("keep", "keep_cleaned"))
                .select("doc_id")
                .collect()
            )

        k1_ids = _keep_ids(disp1)
        k2_ids = _keep_ids(disp2)
        _merge_keeps_into(
            spark, sf_dir,
            spark.createDataFrame([(i,) for i in k2_ids], "doc_id bigint"),
            gram, mh, ivf, cents, batch_id="day2",
        )

        # the takedown: indexed members (base ∪ k1 ∪ k2) with
        # doc_id % 5 == 1. The gram subtraction needs the removed
        # documents EXACTLY AS INDEXED (their text); the MinHash/IVF
        # tombstones need only the ids. Doc- and vec-side manifests are
        # computed from each table's own membership predicate, so no
        # assumption that the two tables share an id universe leaks in.
        docs = _t(spark, sf_dir, "documents")
        emb = _t(spark, sf_dir, "embeddings")
        member_d = (
            (F.col("doc_id") % 3 != 0)
            | F.col("doc_id").isin(k1_ids)
            | F.col("doc_id").isin(k2_ids)
        )
        member_v = (
            (F.col("vec_id") % 3 != 0)
            | F.col("vec_id").isin(k1_ids)
            | F.col("vec_id").isin(k2_ids)
        )
        removed_docs = docs.where(member_d & (F.col("doc_id") % 5 == 1))
        remove_from_gram_index(
            removed_docs, gram, "doc_id", "text", k=5, hashed=False,
            batch_id="takedown",
        )
        remove_from_minhash_index(removed_docs.select("doc_id"), mh)
        removed_vecs = emb.where(member_v & (F.col("vec_id") % 5 == 1)).select(
            "vec_id"
        )
        remove_from_ivf_index(removed_vecs, ivf, "vec_id")
        # the manifests double as the day-3 re-ingest batch: collect the
        # (takedown-sized) id lists once so the query can apply them as
        # broadcast semi-joins instead of thousand-literal isin filters
        doc_manifest = sorted(r[0] for r in removed_docs.select("doc_id").collect())
        vec_manifest = sorted(r[0] for r in removed_vecs.collect())
        state = (gram, mh, ivf, cents, doc_manifest, vec_manifest)
        _DAY3_STATE[sf_dir] = state
    return state


_D3_MEMBER_DOC = (
    "(doc_id % 3 <> 0 OR doc_id IN (SELECT doc_id FROM k1) "
    "OR doc_id IN (SELECT doc_id FROM k2))"
)
_D3_MEMBER_VEC = (
    "(vec_id % 3 <> 0 OR vec_id IN (SELECT doc_id FROM k1) "
    "OR vec_id IN (SELECT doc_id FROM k2))"
)

# k1/k2 are AS MATERIALIZED: the d3 chain's membership predicate
# references them ~8 times (batch/ref/d/corp/bvec), and DuckDB's default
# CTE inlining would re-run the ENTIRE prior-day replay per reference —
# measured 56s vs ~2s at sf0.01. Materialization changes no value: the
# keep sets are tiny id lists computed once either way.
_DAY3_ORACLE = (
    "WITH"
    + _nightly_ctes(
        "d1_",
        "doc_id % 6 = 0",
        "doc_id % 3 <> 0",
        "vec_id % 6 = 0",
        "vec_id % 3 <> 0",
        "vec_id % 3 <> 0",
    )
    + ",\n    k1 AS MATERIALIZED (\n      SELECT doc_id FROM ("
    + _nightly_select("d1_")
    + "\n      ) WHERE disposition IN ('keep', 'keep_cleaned')\n    ),"
    + _nightly_ctes(
        "d2_",
        "doc_id % 6 = 3",
        "doc_id % 3 <> 0 OR doc_id IN (SELECT doc_id FROM k1)",
        "vec_id % 6 = 3",
        "vec_id % 3 <> 0 OR vec_id IN (SELECT doc_id FROM k1)",
        "vec_id % 3 <> 0",
    )
    + ",\n    k2 AS MATERIALIZED (\n      SELECT doc_id FROM ("
    + _nightly_select("d2_")
    + "\n      ) WHERE disposition IN ('keep', 'keep_cleaned')\n    ),"
    + _nightly_ctes(
        "d3_",
        f"{_D3_MEMBER_DOC} AND doc_id % 5 = 1",
        f"{_D3_MEMBER_DOC} AND doc_id % 5 <> 1",
        f"{_D3_MEMBER_VEC} AND vec_id % 5 = 1",
        f"{_D3_MEMBER_VEC} AND vec_id % 5 <> 1",
        "vec_id % 3 <> 0",
    )
    + _nightly_select("d3_")
)


@query("curate_nightly_ingest_day3", oracle=_DAY3_ORACLE)
def curate_nightly_ingest_day3(spark, sf_dir):
    """Certified index DELETION (VERDICT r11 item 1 — the one operation
    a real 100 TB corpus pipeline needed that the engine could not do):
    the takedown manifest (every indexed document with doc_id % 5 == 1,
    across base corpus, day-1 keeps, and day-2 keeps) is REMOVED from
    the three maintained indexes — negative doc-refcounts for the
    counted gram index, tombstone anti-joins for MinHash and IVF — and
    this query then re-ingests exactly those documents (the
    resubmitted-recrawl shape: a taken-down document coming back
    through the pipeline) against the post-takedown state via the same
    _disposition_plan every nightly query runs, with the gram probe in
    refcount-netting mode.

    The probe batch BEING the removed set makes the hash maximally
    deletion-sensitive: any removal bug leaves a document's own grams/
    bands/vectors in the index, and it would near-dup itself at
    jaccard 1.0 (disposition drop_near_dup) instead of matching only
    through surviving documents. The oracle replays the whole
    three-generation lifecycle from scratch — d1 chain derives the
    day-1 keeps, d2 chain (over corpus ∪ k1) derives the day-2 keeps,
    d3 chain rebuilds every reference relation from
    (corpus ∪ k1 ∪ k2) ∖ manifest with the frozen day-0 quantizer — so
    one hash certifies merge-of-merge AND that probe-time deletion
    (refcount netting + tombstones) is bit-identical to rebuilding the
    indexes over the post-takedown corpus. At 100 TB: the takedown is
    O(manifest) appends, the probe pays O(batch) + a broadcast
    anti-join per index, the standing files are untouched, and
    compact_gram_index/compact_minhash_index/compact_ivf_index reclaim
    the bytes out of band. The re-ingest batch is selected by broadcast
    semi-join against the manifest relation — the production shape (a
    takedown manifest is a table, never a literal id list folded into
    every scan's predicate)."""
    gram, mh, ivf, cents, doc_manifest, vec_manifest = _ensure_day3_state(
        spark, sf_dir
    )
    return _disposition_plan(
        spark,
        sf_dir,
        spark.createDataFrame([(i,) for i in doc_manifest], "doc_id bigint"),
        spark.createDataFrame([(i,) for i in vec_manifest], "vec_id bigint"),
        gram,
        mh,
        ivf,
        cents,
        gram_net_counts=True,
    )


#: curate_nightly_ingest_day3_streamed's interleaved state, one per
#: (process, sf_dir) — see _ensure_day3_streamed_state.
_DAY3_STREAMED_STATE: dict = {}


def _ensure_day3_streamed_state(spark, sf_dir):
    """The day-3 post-takedown state rebuilt with the day-2 close
    STREAMED and the takedown + compaction INTERLEAVED WITH THE LIVE
    DRAIN (VERDICT r13 item 5 — the streamed lifecycle stopped at
    merge; this closes it): day-1-merged clones, the day-2 keeps staged
    as 3-file parquet sources and drained availableNow, and the
    foreachBatch callback — after its own epoch merges commit —
    fires the lifecycle's destructive steps between micro-batch
    commits, per the contract pinned in streaming/index_ingest.py:

    - after epoch 0: the ALREADY-MERGED portion of the takedown
      manifest (base ∪ k1 members, id-disjoint from the k2 rows still
      arriving — contract rule 1) is removed from all three indexes;
      the gram removal carries a batch id (rule 2: replay-idempotent);
    - after epoch 1: all three indexes are COMPACTED while the stream
      is live — the epoch-0 tombstones/negative refcounts physically
      reclaimed mid-drain, the sibling epoch markers surviving the
      staged_swap (rule 3), epoch 2's merge landing on the compacted
      store;
    - after the drain: the k2 portion of the manifest (now fully
      merged) is taken down batch-wise — the nightly close's normal
      post-stream takedown.

    Returns the same (gram, mh, ivf, cents, doc_manifest, vec_manifest)
    tuple as _ensure_day3_state: the effective corpus is identically
    (base ∪ k1 ∪ k2) ∖ manifest, which is exactly what sharing
    _DAY3_ORACLE verbatim certifies."""
    import atexit
    import os
    import shutil
    import tempfile

    from delfos_etl_pipeline_spark.dedup.minhash import (
        compact_minhash_index,
        remove_from_minhash_index,
    )
    from delfos_etl_pipeline_spark.dedup.substring import (
        compact_gram_index,
        remove_from_gram_index,
    )
    from delfos_etl_pipeline_spark.similarity.ivf import (
        compact_ivf_index,
        remove_from_ivf_index,
    )
    from delfos_etl_pipeline_spark.sources.sinks import clone_index
    from delfos_etl_pipeline_spark.streaming.index_ingest import (
        document_index_batch_fn,
        vector_index_batch_fn,
    )
    from delfos_etl_pipeline_spark.streaming.runner import (
        read_parquet_stream,
    )

    state = _DAY3_STREAMED_STATE.get(sf_dir)
    if state is None:
        gram2, mh2, ivf2, cents, disp1 = _ensure_day2_indexes(spark, sf_dir)
        workdir = tempfile.mkdtemp(prefix="nightly_day3s_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        gram = os.path.join(workdir, "grams")
        mh = os.path.join(workdir, "lsh")
        ivf = os.path.join(workdir, "ivf")
        clone_index(gram2, gram)
        clone_index(mh2, mh)
        clone_index(ivf2, ivf)

        # day 2's probe → keeps (same relation the batch chapter merges)
        disp2 = os.path.join(workdir, "disp_day2")
        _disposition_plan(
            spark, sf_dir,
            F.col("doc_id") % 6 == 3, F.col("vec_id") % 6 == 3,
            gram, mh, ivf, cents,
        ).write.parquet(disp2)

        def _keep_ids(path):
            return sorted(
                r[0]
                for r in spark.read.parquet(path)
                .where(F.col("disposition").isin("keep", "keep_cleaned"))
                .select("doc_id")
                .collect()
            )

        k1_ids = _keep_ids(disp1)
        k2_ids = _keep_ids(disp2)

        docs = _t(spark, sf_dir, "documents")
        emb = _t(spark, sf_dir, "embeddings")
        # manifest split: OLD = already-merged members (base ∪ k1; k2
        # rows have doc_id % 3 == 0 and are not in k1, so the sets are
        # id-disjoint — contract rule 1 holds by construction); NEW =
        # the k2 members, taken down only after the drain merges them
        member_old_d = (F.col("doc_id") % 3 != 0) | F.col("doc_id").isin(
            k1_ids
        )
        removed_old_docs = docs.where(member_old_d & (F.col("doc_id") % 5 == 1))
        removed_new_docs = docs.where(
            F.col("doc_id").isin(k2_ids) & (F.col("doc_id") % 5 == 1)
        )
        member_old_v = (F.col("vec_id") % 3 != 0) | F.col("vec_id").isin(
            k1_ids
        )
        removed_old_vecs = emb.where(
            member_old_v & (F.col("vec_id") % 5 == 1)
        ).select("vec_id")
        removed_new_vecs = emb.where(
            F.col("vec_id").isin(k2_ids) & (F.col("vec_id") % 5 == 1)
        ).select("vec_id")

        # stage the day-2 keeps for the two streams (3 epochs each)
        k2_rel = spark.createDataFrame([(i,) for i in k2_ids], "doc_id bigint")
        stage_docs = os.path.join(workdir, "stage_docs")
        docs.join(k2_rel, "doc_id", "left_semi").select(
            "doc_id", "text"
        ).repartition(3).write.parquet(stage_docs)
        stage_vecs = os.path.join(workdir, "stage_vecs")
        emb.join(
            k2_rel.withColumnRenamed("doc_id", "vec_id"), "vec_id",
            "left_semi",
        ).select("vec_id", "embedding").repartition(3).write.parquet(
            stage_vecs
        )

        # doc stream: merges per epoch, takedown after epoch 0,
        # compaction after epoch 1 — all between live micro-batch commits
        doc_merge = document_index_batch_fn(gram, mh, stream_id="day2")

        def _doc_apply(batch_df, batch_id):
            doc_merge(batch_df, batch_id)
            if batch_id == 0:
                remove_from_gram_index(
                    removed_old_docs, gram, "doc_id", "text", k=5,
                    hashed=False, batch_id="takedown-old",
                )
                remove_from_minhash_index(
                    removed_old_docs.select("doc_id"), mh
                )
            elif batch_id == 1:
                compact_gram_index(spark, gram)
                compact_minhash_index(spark, mh)

        q = (
            read_parquet_stream(
                spark, stage_docs, spark.read.parquet(stage_docs).schema,
                max_files_per_trigger=1,
            )
            .writeStream.foreachBatch(_doc_apply)
            .option(
                "checkpointLocation", os.path.join(workdir, "ckpt_docs")
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240), "document ingest stream timed out"

        # vector stream: same interleaving for the IVF family
        vec_merge = vector_index_batch_fn(
            ivf, cents, stream_id="day2", with_norm=True
        )

        def _vec_apply(batch_df, batch_id):
            vec_merge(batch_df, batch_id)
            if batch_id == 0:
                remove_from_ivf_index(removed_old_vecs, ivf, "vec_id")
            elif batch_id == 1:
                compact_ivf_index(spark, ivf, "vec_id")

        q2 = (
            read_parquet_stream(
                spark, stage_vecs, spark.read.parquet(stage_vecs).schema,
                max_files_per_trigger=1,
            )
            .writeStream.foreachBatch(_vec_apply)
            .option(
                "checkpointLocation", os.path.join(workdir, "ckpt_vecs")
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q2.awaitTermination(240), "vector ingest stream timed out"

        # post-drain: the k2 portion of the takedown (now fully merged)
        remove_from_gram_index(
            removed_new_docs, gram, "doc_id", "text", k=5, hashed=False,
            batch_id="takedown-new",
        )
        remove_from_minhash_index(removed_new_docs.select("doc_id"), mh)
        remove_from_ivf_index(removed_new_vecs, ivf, "vec_id")

        doc_manifest = sorted(
            r[0]
            for r in removed_old_docs.select("doc_id")
            .union(removed_new_docs.select("doc_id"))
            .collect()
        )
        vec_manifest = sorted(
            r[0] for r in removed_old_vecs.union(removed_new_vecs).collect()
        )
        state = (gram, mh, ivf, cents, doc_manifest, vec_manifest)
        _DAY3_STREAMED_STATE[sf_dir] = state
    return state


@query("curate_nightly_ingest_day3_streamed", oracle=_DAY3_ORACLE)
def curate_nightly_ingest_day3_streamed(spark, sf_dir):
    """Certified REMOVE + COMPACT INTERLEAVED WITH A LIVE STREAM
    (VERDICT r13 item 5 — day-2-streamed certified streaming ingest;
    this certifies the destructive lifecycle steps landing while the
    stream is still draining): the day-2 close runs as availableNow
    streams, and between their micro-batch commits the foreachBatch
    callback fires the takedown of the already-merged manifest members
    (after epoch 0) and a FULL COMPACTION of all three indexes (after
    epoch 1) — epoch 2's merge lands on the freshly compacted store,
    and the post-drain close takes down the streamed generation's
    manifest members. The probe re-ingests the complete takedown
    manifest against the resulting state, exactly like day-3.

    The oracle is _DAY3_ORACLE verbatim — the from-scratch
    three-generation replay over (corpus ∪ k1 ∪ k2) ∖ manifest — so one
    driver hash pins that a maintenance history of
    stream-merge / remove / compact / stream-merge / remove is
    bit-indistinguishable from the batch-ordered day-3 history AND from
    a rebuild: the merge-vs-compact race contract of
    streaming/index_ingest.py, certified, not just fuzzed. At 100 TB
    this is the real continuous-crawl shape — takedowns cannot wait for
    a stream that never ends, so they land between commits under the
    module's three rules (disjoint ids, replay-idempotent ops,
    marker-preserving swaps)."""
    gram, mh, ivf, cents, doc_manifest, vec_manifest = (
        _ensure_day3_streamed_state(spark, sf_dir)
    )
    return _disposition_plan(
        spark,
        sf_dir,
        spark.createDataFrame([(i,) for i in doc_manifest], "doc_id bigint"),
        spark.createDataFrame([(i,) for i in vec_manifest], "vec_id bigint"),
        gram,
        mh,
        ivf,
        cents,
        gram_net_counts=True,
    )


#: curate_nightly_ingest_day4's compacted-index state, one per
#: (process, sf_dir) — see _ensure_day4_state.
_DAY4_STATE: dict = {}


def _ensure_day4_state(spark, sf_dir):
    """Day-4 COMPACTION state (VERDICT r12 item 1 — the last
    uncertified lifecycle step), built ONCE per (process, corpus): a
    private clone of the day-3 POST-TAKEDOWN state (clone_index, so the
    IVF sibling tombstone relation travels with the clone — ADVICE
    r12), then the out-of-band reclamation pass over all three
    families: compact_gram_index nets the refcount generations and
    physically drops dead grams (counted mode inferred from the stored
    schema), compact_minhash_index / compact_ivf_index rewrite with the
    tombstoned ids physically dropped and retire the tombstone
    relations — every swap through sinks.staged_swap's crash-safe
    protocol. The day-3 probe batch and frozen quantizer are reused
    unchanged, so the day-4 query differs from day-3 in exactly one
    respect: the indexes it probes hold compacted bytes instead of
    append-log generations + pending deletes."""
    import os

    from delfos_etl_pipeline_spark.dedup.minhash import (
        compact_minhash_index,
    )
    from delfos_etl_pipeline_spark.dedup.substring import (
        compact_gram_index,
    )
    from delfos_etl_pipeline_spark.similarity.ivf import compact_ivf_index
    from delfos_etl_pipeline_spark.sources.sinks import clone_index

    state = _DAY4_STATE.get(sf_dir)
    if state is None:
        import atexit
        import shutil
        import tempfile

        gram3, mh3, ivf3, cents, doc_manifest, vec_manifest = (
            _ensure_day3_state(spark, sf_dir)
        )
        workdir = tempfile.mkdtemp(prefix="nightly_day4_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        gram = os.path.join(workdir, "grams")
        mh = os.path.join(workdir, "lsh")
        ivf = os.path.join(workdir, "ivf")
        clone_index(gram3, gram)
        clone_index(mh3, mh)
        clone_index(ivf3, ivf)  # carries ivf's sibling tombstones

        compact_gram_index(spark, gram)  # counted: inferred from schema
        compact_minhash_index(spark, mh)
        compact_ivf_index(spark, ivf, "vec_id")
        # reclamation is REAL: no tombstone debt survives the pass
        assert not os.path.isdir(os.path.join(mh, "tombstones"))
        assert not os.path.isdir(ivf + ".tombstones")

        state = (gram, mh, ivf, cents, doc_manifest, vec_manifest)
        _DAY4_STATE[sf_dir] = state
    return state


@query("curate_nightly_ingest_day4", oracle=_DAY3_ORACLE)
def curate_nightly_ingest_day4(spark, sf_dir):
    """Certified index COMPACTION for the gram/MinHash/IVF families
    (VERDICT r12 item 1): the day-3 post-takedown state — counted gram
    index carrying negative-refcount takedown generations, MinHash and
    IVF stores carrying tombstone relations — is cloned and PHYSICALLY
    REWRITTEN by the three compact_* reclamation passes (netted
    refcounts with dead grams dropped; tombstoned ids dropped and the
    tombstone relations retired; each swap via staged_swap), and this
    query re-runs the exact day-3 probe (the takedown manifest
    re-ingested through _disposition_plan, gram netting mode on —
    netting over a compacted single-generation index is the identity)
    against the compacted state.

    The oracle is day-3's, verbatim: the from-scratch three-generation
    replay over (corpus ∪ k1 ∪ k2) ∖ manifest. One hash therefore pins
    the full equivalence chain under the driver gate —
    compacted ≡ tombstoned (day-3's green row) ≡ rebuilt-from-scratch
    (the shared oracle) — for all three families at once, completing
    what sim_pq_probe_compacted certified for PQ: every index family's
    build → probe → merge → remove → compact lifecycle now ends in an
    oracle-certified physical rewrite. Deletion-sensitivity carries
    over from day-3 (the probe batch IS the removed set: a compaction
    bug that resurrects or loses rows self-near-dups at jaccard 1.0 or
    changes a disposition). At 100 TB compaction is the out-of-band
    weekend job — O(index) scan + rewrite, never on the nightly path —
    and this query is the proof that running it changes no answer."""
    gram, mh, ivf, cents, doc_manifest, vec_manifest = _ensure_day4_state(
        spark, sf_dir
    )
    return _disposition_plan(
        spark,
        sf_dir,
        spark.createDataFrame([(i,) for i in doc_manifest], "doc_id bigint"),
        spark.createDataFrame([(i,) for i in vec_manifest], "vec_id bigint"),
        gram,
        mh,
        ivf,
        cents,
        gram_net_counts=True,
    )
