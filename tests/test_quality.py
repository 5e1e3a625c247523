"""Pin the repetition-metric semantics on hand-crafted documents
(SURVEY.md §5.4 unit layer for queries/quality.py)."""

from __future__ import annotations

import pytest


DOCS = [
    # (doc_id, text, lang, source, n_chars)
    (0, "a a a b", "en", "src0", 7),        # run of 3, dup-heavy
    (1, "x y z w", "en", "src0", 7),        # all distinct, runs of 1
    (2, "p q p q p q", "en", "src1", 11),   # alternating: runs of 1,
]


@pytest.fixture(scope="module")
def doc_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("test_quality")
    df = spark.createDataFrame(
        DOCS, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return str(out)


def test_repetition_metrics(spark, doc_dir):
    from etl_framework_spark.queries.quality import llm_repetition

    rows = {r.doc_id: r for r in llm_repetition(spark, doc_dir).collect()}

    r0 = rows[0]  # "a a a b": 4 toks, 2 distinct, top tok 'a'×3, run 3
    assert (r0.n_tok, r0.n_distinct, r0.max_run) == (4, 2, 3)
    assert r0.dup_frac == 0.5
    assert r0.top_tok_frac == 0.75
    # bigrams: "a a","a a","a b" → top 2/3
    assert r0.top_bigram_frac == round(2 / 3, 6)

    r1 = rows[1]  # all distinct
    assert (r1.dup_frac, r1.max_run, r1.top_tok_frac) == (0.0, 1, 0.25)

    r2 = rows[2]  # alternating p q: no consecutive repeats
    assert r2.max_run == 1
    assert r2.n_distinct == 2
    assert r2.top_bigram_frac == 0.6  # "p q"×3 of 5 bigrams


def test_quality_by_source_gates(spark, doc_dir):
    from etl_framework_spark.queries.quality import llm_quality_by_source

    rows = {r.source: r for r in llm_quality_by_source(spark, doc_dir).collect()}
    # src0: doc0 fails (n_tok=4 < MIN_TOK), doc1 fails too → keep 0
    assert rows["src0"].n_docs == 2
    assert rows["src0"].keep_rate == 0.0
    assert rows["src0"].avg_max_run == 2.0  # (3 + 1) / 2
    assert rows["src1"].n_docs == 1
