"""Repetition-based quality signals (SURVEY.md §2.11 L4/L5 widening).

Gopher/C4-style corpus hygiene: excessively repetitive documents are
the classic low-quality signal in LLM training data. Per-doc metrics
(duplicate-token fraction, top-token/top-bigram mass, longest
identical-token run) plus the per-source rollup that drives the
"which crawl sources do we keep" decision.

Scale design (100 TB): everything is keyed by doc_id — uniformly
distributed, partial-aggregating hash shuffles. The gaps-and-islands
run-length pass uses per-doc windows (state bounded by the longest
document, not the partition). The per-source rollup reduces to
|sources| rows — broadcast-sized output, map-side combine does the
heavy lifting.

Contract keys: ``llm_repetition``, ``llm_quality_by_source``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.textops import shingles, tokens
from etl_framework_spark.registry import query

# Keep-gates for the per-source rollup (Gopher-ish bounds).
MAX_DUP_FRAC = 0.8
MAX_RUN = 4
MIN_TOK, MAX_TOK = 10, 1_000

# Shared oracle CTEs: per-doc token stats, longest run, top bigram.
_REP_CTES = """
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
    marked AS (
        SELECT doc_id, tok, pos,
               CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                         IS DISTINCT FROM tok THEN 1 ELSE 0 END AS chg
        FROM toks),
    islands AS (
        SELECT doc_id, tok,
               sum(chg) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM marked),
    runs AS (SELECT doc_id, isl, count(*) AS rl
             FROM islands GROUP BY doc_id, isl),
    max_runs AS (SELECT doc_id, max(rl) AS max_run
                 FROM runs GROUP BY doc_id),
    tok_counts AS (SELECT doc_id, tok, count(*) AS cnt
                   FROM toks GROUP BY doc_id, tok),
    tok_stats AS (
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tok,
               count(*) AS n_distinct, max(cnt) AS top_cnt
        FROM tok_counts GROUP BY doc_id),
    bi AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(l) - 1, 1)),
                   i -> concat_ws(' ', l[i], l[i+1]))) AS bg
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
    bi_counts AS (SELECT doc_id, bg, count(*) AS cnt
                  FROM bi GROUP BY doc_id, bg),
    bi_stats AS (SELECT doc_id, sum(cnt) AS n_bi, max(cnt) AS top_bi
                 FROM bi_counts GROUP BY doc_id),
    rep AS (
        SELECT t.doc_id,
               t.n_tok,
               t.n_distinct,
               round(1.0 - CAST(t.n_distinct AS DOUBLE) / t.n_tok, 6)
                   AS dup_frac,
               round(CAST(t.top_cnt AS DOUBLE) / t.n_tok, 6)
                   AS top_tok_frac,
               round(CAST(b.top_bi AS DOUBLE) / b.n_bi, 6)
                   AS top_bigram_frac,
               m.max_run
        FROM tok_stats t
        JOIN max_runs m ON m.doc_id = t.doc_id
        JOIN bi_stats b ON b.doc_id = t.doc_id)
"""


def _doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition metrics (the `rep` CTE, Spark side)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    marked = toks.withColumn(
        "chg",
        F.when(~F.lag("tok").over(w).eqNullSafe(F.col("tok")), 1).otherwise(0),
    )
    islands = marked.withColumn("isl", F.sum("chg").over(w))
    runs = islands.groupBy("doc_id", "isl").agg(F.count("*").alias("rl"))
    max_runs = runs.groupBy("doc_id").agg(F.max("rl").alias("max_run"))

    tok_counts = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    tok_stats = tok_counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tok"),
        F.count("*").alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
    )

    bi = docs.select(tokens("text").alias("l"), "doc_id").select(
        "doc_id", F.explode(shingles("l", 2)).alias("bg")
    )
    bi_counts = bi.groupBy("doc_id", "bg").agg(F.count("*").alias("cnt"))
    bi_stats = bi_counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bi"), F.max("cnt").alias("top_bi")
    )

    return (
        tok_stats.join(max_runs, "doc_id")
        .join(bi_stats, "doc_id")
        .select(
            "doc_id",
            "n_tok",
            "n_distinct",
            F.round(
                1.0 - F.col("n_distinct").cast("double") / F.col("n_tok"), 6
            ).alias("dup_frac"),
            F.round(
                F.col("top_cnt").cast("double") / F.col("n_tok"), 6
            ).alias("top_tok_frac"),
            F.round(
                F.col("top_bi").cast("double") / F.col("n_bi"), 6
            ).alias("top_bigram_frac"),
            "max_run",
        )
    )


@query("llm_repetition", oracle=_REP_CTES + "SELECT * FROM rep")
def llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition signals (L4): duplicate-token fraction,
    top-token and top-bigram mass, and the longest identical-token run
    (gaps-and-islands over a per-doc window)."""
    return _doc_repetition(spark, sf_dir)


@query(
    "llm_quality_by_source",
    oracle=_REP_CTES
    + f"""
    SELECT d.source,
           count(*) AS n_docs,
           round(avg(rep.dup_frac), 6) AS avg_dup_frac,
           round(avg(CAST(rep.max_run AS DOUBLE)), 6) AS avg_max_run,
           round(avg(CASE WHEN rep.dup_frac <= {MAX_DUP_FRAC}
                           AND rep.max_run <= {MAX_RUN}
                           AND rep.n_tok BETWEEN {MIN_TOK} AND {MAX_TOK}
                          THEN 1.0 ELSE 0.0 END), 6) AS keep_rate
    FROM rep JOIN documents d ON d.doc_id = rep.doc_id
    GROUP BY d.source
    """,
)
def llm_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality rollup (L5): average repetition metrics and
    the fraction of each source's docs surviving the keep-gates — the
    table a curation pipeline ranks crawl sources by."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    rep = _doc_repetition(spark, sf_dir)
    keep = (
        (F.col("dup_frac") <= MAX_DUP_FRAC)
        & (F.col("max_run") <= MAX_RUN)
        & F.col("n_tok").between(MIN_TOK, MAX_TOK)
    )
    return (
        rep.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("dup_frac"), 6).alias("avg_dup_frac"),
            F.round(F.avg(F.col("max_run").cast("double")), 6).alias(
                "avg_max_run"
            ),
            F.round(
                F.avg(F.when(keep, 1.0).otherwise(0.0)), 6
            ).alias("keep_rate"),
        )
    )
