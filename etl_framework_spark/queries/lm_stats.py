"""Language-model corpus statistics (SURVEY.md §2.11 L4 widening):
unigram log-probability scoring (the classic perplexity-proxy quality
signal), Zipf rank-frequency fit, and per-source distribution drift.

These are the monitoring/filtering signals a training-data pipeline
computes continuously at 100 TB. All three share one shape: a corpus
unigram model is a tiny aggregate (|vocab| rows) that BROADCASTS back
onto the token stream, so the only fact-sized shuffles are the
partial-aggregating token counts themselves — no join ever shuffles
the corpus by anything lower-cardinality than (doc_id | tok).

Contract keys: ``llm_unigram_logprob``, ``llm_zipf_fit``,
``llm_source_drift``, ``llm_bigram_logprob``, ``llm_textrank``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.textops import tokens
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "source", F.explode(tokens("text")).alias("tok")
    )


@query(
    "llm_unigram_logprob",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    tot AS (SELECT count(*) AS n FROM toks),
    p AS (SELECT tok, CAST(count(*) AS DOUBLE) / (SELECT n FROM tot) AS pt
          FROM toks GROUP BY tok)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_toks,
           round(avg(ln(p.pt)), 6) AS avg_logprob
    FROM toks t JOIN p USING (tok)
    GROUP BY t.doc_id
    """,
)
def llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean token log-probability under the corpus unigram
    LM — the cheapest perplexity-style quality score (low = off-
    distribution document). The unigram model is |vocab| rows →
    broadcast; per-doc scoring is one partial-aggregating groupBy."""
    toks = _toks(spark, sf_dir)
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    model = vocab.crossJoin(
        F.broadcast(toks.agg(F.count("*").alias("n")))
    ).select("tok", (F.col("c") / F.col("n")).alias("pt"))
    return (
        toks.join(F.broadcast(model), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.round(F.avg(F.log(F.col("pt"))), 6).alias("avg_logprob"),
        )
    )


@query(
    "llm_zipf_fit",
    oracle="""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    f AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rnk FROM f)
    SELECT CAST(count(*) AS BIGINT) AS n_types,
           round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6)
               AS zipf_slope,
           round(regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6)
               AS zipf_intercept
    FROM r
    """,
)
def llm_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope/intercept of ln(freq) on ln(rank).
    A healthy natural-language corpus slopes ≈ -1; a flat slope flags
    synthetic or templated text. The regression runs over |vocab|
    rows, so the rank window (a global sort of the vocab, NOT the
    corpus) is negligible at any corpus scale."""
    toks = _toks(spark, sf_dir)
    f = toks.groupBy("tok").agg(F.count("*").alias("c"))
    r = f.select(
        "c",
        F.row_number()
        .over(W.orderBy(F.col("c").desc(), "tok"))
        .alias("rnk"),
    )
    lnc, lnr = F.log(F.col("c").cast("double")), F.log(
        F.col("rnk").cast("double")
    )
    return r.agg(
        F.count("*").alias("n_types"),
        F.round(F.regr_slope(lnc, lnr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lnc, lnr), 6).alias("zipf_intercept"),
    )


@query(
    "llm_source_drift",
    oracle="""
    WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    q AS (SELECT tok, CAST(count(*) AS DOUBLE)
                      / (SELECT count(*) FROM toks) AS qt
          FROM toks GROUP BY tok),
    st AS (SELECT source, count(*) AS n FROM toks GROUP BY source),
    p AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok)
    SELECT p.source,
           round(sum((CAST(p.c AS DOUBLE) / st.n)
                     * ln((CAST(p.c AS DOUBLE) / st.n) / q.qt)), 6)
               AS kl_vs_corpus
    FROM p
    JOIN st ON st.source = p.source
    JOIN q ON q.tok = p.tok
    GROUP BY p.source
    """,
)
def llm_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL(source unigram dist ‖ corpus dist) — the drift
    monitor that catches one web crawl going templated/spammy inside a
    mixture. Both distributions are |vocab|-sized aggregates of the
    same token scan; the (source × tok) agg shuffles once and every
    join after it is broadcast-sized."""
    toks = _toks(spark, sf_dir)
    q = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cq"))
        .crossJoin(F.broadcast(toks.agg(F.count("*").alias("nq"))))
        .select("tok", (F.col("cq") / F.col("nq")).alias("qt"))
    )
    st = toks.groupBy("source").agg(F.count("*").alias("n"))
    p = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    ps = F.col("c") / F.col("n")
    return (
        p.join(F.broadcast(st), "source")
        .join(F.broadcast(q), "tok")
        .groupBy("source")
        .agg(
            F.round(F.sum(ps * F.log(ps / F.col("qt"))), 6).alias(
                "kl_vs_corpus"
            )
        )
    )


@query(
    "llm_bigram_logprob",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    bi AS (SELECT doc_id,
                  unnest(list_transform(generate_series(1, greatest(len(l) - 1, 1)),
                         i -> concat_ws(' ', l[i], l[i+1]))) AS bg
           FROM t),
    pairs AS (SELECT doc_id, split_part(bg, ' ', 1) AS u,
                     split_part(bg, ' ', 2) AS v
              FROM bi WHERE split_part(bg, ' ', 2) <> ''),
    c2 AS (SELECT u, v, count(*) AS c FROM pairs GROUP BY u, v),
    toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    c1 AS (SELECT tok AS u, count(*) AS c FROM toks GROUP BY u),
    vv AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v_sz FROM toks)
    SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((CAST(c2.c AS DOUBLE) + 1.0)
                        / (CAST(c1.c AS DOUBLE) + vv.v_sz))), 6) AS avg_logprob
    FROM pairs p
    JOIN c2 ON c2.u = p.u AND c2.v = p.v
    JOIN c1 ON c1.u = p.u
    CROSS JOIN vv
    GROUP BY p.doc_id
    """,
)
def llm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability with add-1 smoothing —
    one order up from the unigram score: catches shuffled/templated
    word salad the unigram model scores as normal. Model tables
    (bigram counts, unigram counts, |V|) are vocab-sized aggregates of
    one token scan, broadcast back onto the per-doc bigram stream."""
    from etl_framework_spark.operators.textops import shingles

    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("l"))
    pairs = (
        t.select("doc_id", F.explode(shingles("l", 2)).alias("bg"))
        .select(
            "doc_id",
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("u"),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("v"),
        )
        .filter(F.col("v") != "")
    ).transform(persist_tracked)  # the bigram-count model table and the per-doc scoring
    # stream both consume this — unpersisted, the explode ran 2× (r10)
    c2 = pairs.groupBy("u", "v").agg(F.count("*").alias("c2"))
    toks = _toks(spark, sf_dir)
    c1 = toks.groupBy("tok").agg(F.count("*").alias("c1")).withColumnRenamed("tok", "u")
    vv = toks.agg(F.countDistinct("tok").cast("double").alias("v_sz"))
    lp = F.log(
        (F.col("c2").cast("double") + 1.0) / (F.col("c1").cast("double") + F.col("v_sz"))
    )
    return (
        pairs.join(F.broadcast(c2), ["u", "v"])
        .join(F.broadcast(c1), "u")
        .crossJoin(F.broadcast(vv))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(lp), 6).alias("avg_logprob"),
        )
    )


TR_ITERS = 15
TR_DAMP = 0.85
TR_TOP = 20


def _textrank_oracle() -> str:
    """Unrolled power-iteration oracle: recursive CTEs can't aggregate
    in the recursive term (Postgres/DuckDB rule), so the fixed
    {TR_ITERS} PageRank rounds are generated as chained CTEs, each
    MATERIALIZED — DuckDB inlines plain CTEs, which would re-expand
    the whole token->bigram pipeline once per unrolled round
    (measured 44s -> <1s). The damping base is written as
    (1.0 - 0.85) so both engines execute the same IEEE
    subtraction."""
    steps = []
    for i in range(1, TR_ITERS + 1):
        steps.append(
            f"p{i} AS MATERIALIZED (SELECT tr.v AS node, "
            f"(1.0 - {TR_DAMP})/(SELECT n FROM nn) "
            f"+ {TR_DAMP} * sum(tr.tw * p{i-1}.p) AS p "
            f"FROM tr JOIN p{i-1} ON p{i-1}.node = tr.u GROUP BY tr.v)"
        )
    chain = ", ".join(steps)
    return f"""
    WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
    bg AS (SELECT unnest(list_transform(
               generate_series(1, greatest(len(l) - 1, 1)),
               i -> concat_ws(' ', l[i], l[i+1]))) AS bg FROM t),
    pr0 AS (SELECT split_part(bg, ' ', 1) AS u, split_part(bg, ' ', 2) AS v
            FROM bg WHERE split_part(bg, ' ', 2) <> ''),
    e AS (SELECT u, v, CAST(count(*) AS DOUBLE) AS w
          FROM (SELECT u, v FROM pr0
                UNION ALL SELECT v AS u, u AS v FROM pr0)
          GROUP BY u, v),
    outw AS (SELECT u, sum(w) AS W FROM e GROUP BY u),
    tr AS MATERIALIZED (SELECT e.u, e.v, e.w / outw.W AS tw
           FROM e JOIN outw ON outw.u = e.u),
    nn AS MATERIALIZED (SELECT CAST(count(DISTINCT u) AS DOUBLE) AS n FROM tr),
    p0 AS (SELECT u AS node, 1.0/(SELECT n FROM nn) AS p
           FROM (SELECT DISTINCT u FROM tr)),
    {chain}
    SELECT node AS tok, round(p, 6) AS score
    FROM p{TR_ITERS}
    ORDER BY score DESC, tok LIMIT {TR_TOP}
    """


@query("llm_textrank", oracle=_textrank_oracle())
def llm_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (L4): weighted PageRank over the
    token co-occurrence (bigram) graph — the classic unsupervised
    keyword/salience scorer for corpus triage. The iterative operator
    is operators/graph.py:pagerank; each round shuffles only
    |vocab|-sized tables, never the corpus, so 15 rounds cost the
    same shape at 100 TB as at sf0.01 once the one bigram count is
    done."""
    from etl_framework_spark.operators.graph import pagerank
    from etl_framework_spark.operators.textops import shingles

    docs = table(spark, sf_dir, "documents")
    t = docs.select(tokens("text").alias("l"))
    bg = t.select(F.explode(shingles("l", 2)).alias("bg"))
    pairs = bg.select(
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("src"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("dst"),
    ).filter(F.col("dst") != "")
    pr = pagerank(pairs, iters=TR_ITERS, damping=TR_DAMP)
    return (
        pr.select(F.col("node").alias("tok"), F.round("p", 6).alias("score"))
        .orderBy(F.col("score").desc(), "tok")
        .limit(TR_TOP)
    )
