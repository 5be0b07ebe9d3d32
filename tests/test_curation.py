"""Corpus-curation operators: decontamination, token-budget sampling,
sequence packing, mixture sampling (text/curation.py)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from delfos_etl_pipeline_spark.sources.parquet import load_table
from delfos_etl_pipeline_spark.operators.prefix import prefix_scan
from delfos_etl_pipeline_spark.text.curation import (
    decontaminate,
    decontaminate_corpus,
    mixture_sample,
    pack_sequences,
    token_budget_sample,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_decontaminate_flags_eval_copies(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # copies eval text
            (2, "one two three four five six seven"),  # clean
            (3, "alpha beta gamma delta epsilon nine"),  # shares one 5-gram
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    flagged = {r.doc_id: r.n_shared for r in
               decontaminate(corpus, eval_df, n=5).collect()}
    assert set(flagged) == {1, 3}
    assert flagged[1] == 2 and flagged[3] == 1  # doc 1 shares both 5-grams
    survivors = {r.doc_id for r in
                 decontaminate_corpus(corpus, eval_df, n=5).collect()}
    assert survivors == {2}


def test_global_prefix_sum_matches_single_window(docs):
    base = docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("_pri"),
        F.size(F.split("text", r"\s+")).cast("bigint").alias("n_tok"),
    )
    dist = {
        r.doc_id: r.cum
        for r in prefix_scan(base, ["_pri", "doc_id"], {"cum": "n_tok"}).collect()
    }
    w = (
        Window.orderBy("_pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    single = {
        r.doc_id: r.cum
        for r in base.withColumn("cum", F.sum("n_tok").over(w)).collect()
    }
    assert dist == single


def test_token_budget_maximal_and_deterministic(docs):
    budget = 10_000
    got = token_budget_sample(docs, budget=budget).collect()
    assert got and max(r.cum_tokens for r in got) <= budget
    # maximality: the next document in priority order would bust the budget
    n_kept = len(got)
    all_rows = token_budget_sample(docs, budget=10**12).orderBy("cum_tokens").collect()
    assert all_rows[n_kept].cum_tokens > budget
    again = token_budget_sample(docs, budget=budget).collect()
    assert {r.doc_id for r in got} == {r.doc_id for r in again}


def test_pack_sequences_contiguous_stream(docs):
    rows = sorted(pack_sequences(docs, ctx_len=2048).collect(),
                  key=lambda r: r.offset)
    # offsets tile the stream with no gaps or overlaps
    expect = 0
    for r in rows:
        assert r.offset == expect
        assert r.bin_id == r.offset // 2048
        expect += r.n_tok
    assert expect == sum(r.n_tok for r in rows)


def test_mixture_sample_rates_and_nesting(docs):
    n_en = docs.where(F.col("lang") == "en").count()
    full = mixture_sample(docs, {"en": 1.0}, "lang")
    assert full.count() == n_en  # rate 1.0 keeps every row of the group
    assert mixture_sample(docs, {"en": 0.0}, "lang").count() == 0
    half = {r.doc_id for r in mixture_sample(docs, {"en": 0.5}, "lang").collect()}
    quarter = {r.doc_id for r in mixture_sample(docs, {"en": 0.25}, "lang").collect()}
    assert quarter <= half  # hash thresholds nest: lower rate is a subset
    assert 0 < len(quarter) < len(half) < n_en
    # non-listed groups fall back to default_rate=0
    assert {r.lang for r in mixture_sample(docs, {"en": 1.0}, "lang").collect()} == {"en"}


def test_staged_pipeline_equals_end2end(spark, sf_dir, tmp_path):
    """The staged (materialize-every-boundary) corpus build must produce
    byte-identical output to the single-query end2end form — stage
    boundaries change restartability, never the dataflow."""
    from delfos_etl_pipeline_spark.queries import QUERIES
    from delfos_etl_pipeline_spark.text.curation import curate_pipeline_staged

    docs = load_table(spark, sf_dir, "documents")
    staged = curate_pipeline_staged(
        docs.where(F.col("doc_id") % 17 != 0),
        docs.where(F.col("doc_id") % 17 == 0),
        str(tmp_path / "stages"),
    )
    end2end = QUERIES["curate_pipeline_end2end"](spark, sf_dir)
    s = sorted(map(tuple, staged.collect()))
    e = sorted(map(tuple, end2end.collect()))
    assert s == e
    assert len(s) > 0
    # every boundary is on disk — the restart points
    import os

    assert sorted(os.listdir(tmp_path / "stages")) == [
        "01_quality",
        "02_deduped",
        "03_clean",
        "04_mixed",
        "05_budget",
    ]


def test_boilerplate_strip_conserves_tokens(spark, sf_dir):
    """kept + removed tokens per doc must equal the doc's word count
    exactly (the segmentation grid is a partition of the token stream),
    every doc must appear, and boiler counts are bounded by segment
    counts."""
    from pyspark.sql import functions as F

    from delfos_etl_pipeline_spark.queries import queries

    out = queries()["curate_boilerplate_strip"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.lower("text"), r"\s+")).cast("bigint").alias("n_tok"),
    )
    j = out.join(docs, "doc_id").collect()
    assert len(j) == docs.count()
    for r in j:
        assert r.kept_tokens + r.removed_tokens == r.n_tok, r
        assert 0 <= r.n_boiler_segs <= r.n_segments, r


def test_ppl_buckets_are_balanced_ordered_terciles(spark, sf_dir):
    """Per language: exactly 3 buckets whose sizes differ by at most one
    and sum to the language's doc count, with non-overlapping ordered
    score ranges (bucket1 max <= bucket2 min <= ...)."""
    from pyspark.sql import functions as F

    from delfos_etl_pipeline_spark.queries import queries

    rows = queries()["curate_ppl_buckets"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").where(
        F.length("text") >= 2
    )
    lang_counts = {
        r.lang: r["count"] for r in docs.groupBy("lang").count().collect()
    }
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, brs in by_lang.items():
        brs.sort(key=lambda r: r.bucket)
        assert [r.bucket for r in brs] == [1, 2, 3]
        sizes = [r.n_docs for r in brs]
        assert sum(sizes) == lang_counts[lang]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        for lo, hi in zip(brs, brs[1:]):
            assert lo.max_ppm <= hi.min_ppm, (lang, lo, hi)


def test_contamination_report_consistent_with_corpus_flags(spark, sf_dir):
    """The eval-side report and the corpus-side decontaminate flags must
    agree on the TOTAL contamination edge set: an eval doc with
    n_corpus_docs > 0 implies those corpus docs are flagged, and every
    report row keeps 0 <= n_hit_shingles <= n_shingles."""
    from pyspark.sql import functions as F

    from delfos_etl_pipeline_spark.queries import queries

    rows = queries()["curate_contamination_report"](spark, sf_dir).collect()
    assert rows
    n_hit_evals = 0
    for r in rows:
        assert r.eval_doc_id % 17 == 0
        assert 0 <= r.n_hit_shingles <= r.n_shingles, r
        assert (r.n_hit_shingles == 0) == (r.n_corpus_docs == 0), r
        if r.n_corpus_docs:
            n_hit_evals += 1
    # the corpus-side view flags a doc iff SOME eval doc shares a shingle,
    # so both directions must be non-empty together
    corpus_flagged = queries()["curate_decontaminate"](spark, sf_dir).count()
    assert (corpus_flagged > 0) == (n_hit_evals > 0)
