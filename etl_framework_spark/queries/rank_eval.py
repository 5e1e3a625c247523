"""Contract keys: ``rank_ndcg``, ``rank_map_mrr``, ``rank_rbo``.

Retrieval EVALUATION — the metrics layer over the ranking operators
(llm_bm25, rank_fusion, llm_sim_topk): graded nDCG@10, binary
MAP/MRR/P@10/recall@10, and rank-biased overlap between two rankers.
A training-data pipeline runs these to compare retrieval variants
(e.g. BM25 vs embedding kNN) on deterministic pseudo-judgments
without a human label set.

Determinism contract (same discipline as llm_bm25): every metric is
a fold over a rank-ordered list of ≤50 float terms, so the IEEE
addition sequence is identical in Spark and DuckDB; final values are
rounded to 6 before ranking/compare; every ordering tie-breaks on
doc_id.

Scale notes:
- The query set (top-5 corpus tokens) and per-query result lists are
  broadcast-sized; postings materialize through an equi-join of the
  exploded token stream against the 5-row query set — never a full
  posting list. Metric folds happen inside per-query groupBy (5
  groups), after a window that orders only the matched postings per
  query, not the corpus.
- ``rank_rbo`` joins two top-50 lists (TakeOrdered each) and expands
  to a 50-row depth table — constant work regardless of corpus size;
  the depth×entry theta-join is a broadcast BNLJ over ≤50×50 rows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.cacheutil import persist_tracked
from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_N_QUERIES = 5  # top-N corpus tokens act as single-term queries
_REL_CAP = 3    # graded relevance = min(tf, cap)
_K_NDCG = 10
_K_AP = 20
_RBO_P = 0.9
_RBO_DEPTH = 50

# Shared DuckDB CTE prologue: tokenized corpus, doc lengths, the
# 5-token query set, per-(query, doc) term frequencies, and the
# length-normalized ranking with graded relevance. The RANKER is
# tf/dlen (length-normalized term frequency) while the JUDGMENT is
# min(tf, 3) — deliberately different signals, so nDCG/AP are not
# trivially 1.0.
_RANKED_CTE = f"""
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY doc_id),
    q AS (
      SELECT token FROM tok GROUP BY token
      ORDER BY count(*) DESC, token LIMIT {_N_QUERIES}
    ),
    tf AS (
      SELECT token AS qtoken, doc_id, count(*) AS tf
      FROM tok WHERE token IN (SELECT token FROM q)
      GROUP BY token, doc_id
    ),
    ranked AS (
      SELECT qtoken, doc_id, tf,
             least(tf, {_REL_CAP}) AS rel,
             row_number() OVER (
               PARTITION BY qtoken
               ORDER BY CAST(tf AS DOUBLE) / dlen DESC, doc_id
             ) AS r
      FROM tf JOIN dl USING (doc_id)
    )
"""


def _ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _RANKED_CTE: per-query postings with rank ``r``
    (by length-normalized tf, tie doc_id) and graded ``rel``."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dlen"))
    q = (
        tok.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(_N_QUERIES)
        .select(F.col("token").alias("qtoken"))
    )
    tf = (
        tok.join(F.broadcast(q), tok.token == F.col("qtoken"))
        .groupBy("qtoken", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    w = W.partitionBy("qtoken").orderBy(
        (F.col("tf").cast("double") / F.col("dlen")).desc(), "doc_id"
    )
    return (
        tf.join(dl, "doc_id")
        .select(
            "qtoken",
            "doc_id",
            "tf",
            F.least("tf", F.lit(_REL_CAP)).alias("rel"),
            F.row_number().over(w).alias("r"),
        )
    )


def _fold_sorted(col_struct, value_field: str):
    """Sum struct.value in struct-sort order (rank leads the struct),
    pinning the IEEE addition sequence. col_struct is a collected
    array<struct<r, value>>."""
    return F.aggregate(
        F.array_sort(col_struct)[value_field],
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


# --------------------------------------------------------------------------
# Graded nDCG@10 per query
# --------------------------------------------------------------------------
@query(
    "rank_ndcg",
    oracle=f"""
    WITH {_RANKED_CTE},
    ideal AS (
      SELECT qtoken, rel,
             row_number() OVER (
               PARTITION BY qtoken ORDER BY rel DESC, doc_id
             ) AS ir
      FROM ranked
    ),
    dcg AS (
      SELECT qtoken,
             list_reduce(list(rel / ln(r + 1.0) ORDER BY r),
                         (a, x) -> a + x) AS dcg
      FROM ranked WHERE r <= {_K_NDCG} GROUP BY qtoken
    ),
    idcg AS (
      SELECT qtoken,
             list_reduce(list(rel / ln(ir + 1.0) ORDER BY ir),
                         (a, x) -> a + x) AS idcg
      FROM ideal WHERE ir <= {_K_NDCG} GROUP BY qtoken
    )
    SELECT qtoken, round(dcg / idcg, 6) AS ndcg10
    FROM dcg JOIN idcg USING (qtoken)
    ORDER BY qtoken
    """,
)
def rank_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 for each of the top-5-token queries: ranker is
    length-normalized tf, judgments are min(tf, 3) — the standard
    graded-relevance report a pipeline uses to compare retrieval
    variants on pseudo-labels. The log base cancels in DCG/IDCG, so
    ln-discounts are used in both engines (one less libm surface).
    Both folds run in rank order over ≤10 terms. Ref: reference
    retrieval-evaluation tests (cf. llm_bm25, rank_fusion — the
    rankers these metrics grade)."""
    ranked = _ranked(spark, sf_dir).transform(persist_tracked)  # feeds both the DCG and the ideal-DCG branches
    dcg = (
        ranked.filter(F.col("r") <= _K_NDCG)
        .withColumn("term", F.col("rel") / F.log(F.col("r") + 1.0))
        .groupBy("qtoken")
        .agg(F.collect_list(F.struct("r", "term")).alias("ts"))
        .select("qtoken", _fold_sorted(F.col("ts"), "term").alias("dcg"))
    )
    ideal = _ranked_ideal(ranked)
    idcg = (
        ideal.filter(F.col("ir") <= _K_NDCG)
        .withColumn("term", F.col("rel") / F.log(F.col("ir") + 1.0))
        .groupBy("qtoken")
        .agg(F.collect_list(F.struct("ir", "term")).alias("ts"))
        .select("qtoken", _fold_sorted(F.col("ts"), "term").alias("idcg"))
    )
    return (
        dcg.join(idcg, "qtoken")
        .select("qtoken", F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg10"))
        .orderBy("qtoken")
    )


def _ranked_ideal(ranked: DataFrame) -> DataFrame:
    wi = W.partitionBy("qtoken").orderBy(F.col("rel").desc(), "doc_id")
    return ranked.select(
        "qtoken", "rel", F.row_number().over(wi).alias("ir")
    )


# --------------------------------------------------------------------------
# Binary MAP@20 / MRR / P@10 / recall@10 per query
# --------------------------------------------------------------------------
@query(
    "rank_map_mrr",
    oracle=f"""
    WITH {_RANKED_CTE},
    flags AS (
      SELECT qtoken, r,
             CASE WHEN tf >= 2 THEN 1 ELSE 0 END AS hit,
             sum(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) OVER (
               PARTITION BY qtoken ORDER BY r
             ) AS cumhits
      FROM ranked
    ),
    rtot AS (SELECT qtoken, sum(hit) AS nrel FROM flags GROUP BY qtoken),
    ap AS (
      SELECT qtoken,
             list_reduce(
               list(CASE WHEN hit = 1
                         THEN CAST(cumhits AS DOUBLE) / r
                         ELSE 0.0 END ORDER BY r),
               (a, x) -> a + x) AS apsum
      FROM flags WHERE r <= {_K_AP} GROUP BY qtoken
    ),
    mrr AS (
      SELECT qtoken, 1.0 / min(r) AS rr
      FROM flags WHERE hit = 1 GROUP BY qtoken
    ),
    p10 AS (
      SELECT qtoken,
             sum(hit) AS h10
      FROM flags WHERE r <= 10 GROUP BY qtoken
    )
    SELECT rtot.qtoken,
           round(coalesce(ap.apsum, 0.0)
                 / nullif(least(rtot.nrel, {_K_AP}), 0), 6) AS ap20,
           round(coalesce(mrr.rr, 0.0), 6) AS rr,
           round(p10.h10 / 10.0, 6) AS p10,
           round(CAST(p10.h10 AS DOUBLE) / nullif(rtot.nrel, 0), 6)
             AS recall10
    FROM rtot
    LEFT JOIN ap ON rtot.qtoken = ap.qtoken
    LEFT JOIN mrr ON rtot.qtoken = mrr.qtoken
    JOIN p10 ON rtot.qtoken = p10.qtoken
    ORDER BY rtot.qtoken
    """,
)
def rank_map_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary retrieval metrics per query (judgment: tf >= 2):
    AP@20 (normalized by min(R, 20)), reciprocal rank, precision@10,
    recall@10. The AP fold sums precision-at-hit terms in rank order;
    every other metric is a ratio of exact integers. In the oracle,
    non-hit ranks contribute an exact 0.0 term to the AP fold
    (x + 0.0 == x in IEEE, and it keeps list_reduce's input provably
    non-empty); Spark folds the hit terms only — bit-identical.
    No ``--`` comments in the oracle: the registry collapses the SQL
    to one line, so a line comment would swallow the query. Ref:
    reference retrieval-evaluation tests (cf. stats_auc_pit for the
    threshold-free cousin)."""
    ranked = _ranked(spark, sf_dir)
    flags = ranked.select(
        "qtoken",
        "r",
        F.when(F.col("tf") >= 2, 1).otherwise(0).alias("hit"),
    ).withColumn(
        "cumhits",
        F.sum("hit").over(W.partitionBy("qtoken").orderBy("r")),
    )
    flags = flags.transform(persist_tracked)  # feeds AP, MRR, P@10, and the relevant-total rollup
    rtot = flags.groupBy("qtoken").agg(F.sum("hit").alias("nrel"))
    ap = (
        flags.filter((F.col("r") <= _K_AP) & (F.col("hit") == 1))
        .withColumn("term", F.col("cumhits").cast("double") / F.col("r"))
        .groupBy("qtoken")
        .agg(F.collect_list(F.struct("r", "term")).alias("ts"))
        .select("qtoken", _fold_sorted(F.col("ts"), "term").alias("apsum"))
    )
    # queries whose top-20 has no hit still need an AP row (apsum 0)
    ap = rtot.select("qtoken").join(ap, "qtoken", "left").fillna(
        {"apsum": 0.0}
    )
    mrr = (
        flags.filter(F.col("hit") == 1)
        .groupBy("qtoken")
        .agg((F.lit(1.0) / F.min("r")).alias("rr"))
    )
    p10 = (
        flags.filter(F.col("r") <= 10)
        .groupBy("qtoken")
        .agg(F.sum("hit").alias("h10"))
    )
    return (
        ap.join(rtot, "qtoken")
        .join(mrr, "qtoken", "left")
        .join(p10, "qtoken")
        .select(
            "qtoken",
            F.round(
                F.col("apsum")
                / F.nullif(
                    F.least(F.col("nrel"), F.lit(_K_AP).cast("long")),
                    F.lit(0).cast("long"),
                ),
                6,
            ).alias("ap20"),
            F.round(F.coalesce(F.col("rr"), F.lit(0.0)), 6).alias("rr"),
            F.round(F.col("h10") / 10.0, 6).alias("p10"),
            F.round(
                F.col("h10").cast("double")
                / F.nullif(F.col("nrel"), F.lit(0).cast("long")),
                6,
            ).alias("recall10"),
        )
        .orderBy("qtoken")
    )


# --------------------------------------------------------------------------
# Rank-biased overlap between two rankers (truncated, depth 50)
# --------------------------------------------------------------------------
@query(
    "rank_rbo",
    oracle=f"""
    WITH a AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS ra
      FROM (SELECT doc_id, n_chars FROM documents
            ORDER BY n_chars DESC, doc_id LIMIT {_RBO_DEPTH})
    ),
    b AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY ntok DESC, doc_id) AS rb
      FROM (SELECT doc_id, len(string_split(text, ' ')) AS ntok
            FROM documents ORDER BY ntok DESC, doc_id LIMIT {_RBO_DEPTH})
    ),
    ent AS (
      SELECT greatest(ra, rb) AS entry FROM a JOIN b USING (doc_id)
    ),
    depths AS (SELECT unnest(generate_series(1, {_RBO_DEPTH})) AS d),
    ov AS (
      SELECT d, CAST(count(ent.entry) AS DOUBLE) AS o
      FROM depths LEFT JOIN ent ON ent.entry <= depths.d
      GROUP BY d
    ),
    terms AS (
      SELECT d,
             (1 - {_RBO_P}) * pow({_RBO_P}, d - 1) * o / d AS t,
             o
      FROM ov
    )
    SELECT round(list_reduce(list(t ORDER BY d), (a, x) -> a + x), 6)
             AS rbo,
           CAST(max(o) AS BIGINT) AS overlap50
    FROM terms
    """,
)
def rank_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated rank-biased overlap (Webber et al., TOIS'10; p=0.9,
    depth 50) between two document rankers — by character length vs
    by token count: RBO = (1-p) * Σ_d p^(d-1) * |A_d ∩ B_d| / d. A
    doc in both lists enters every prefix intersection at depth
    max(rank_a, rank_b), so the per-depth overlap is a count over a
    broadcast theta-join of the ≤50-row entry list against the 50-row
    depth table — constant work at any corpus size. The 50-term sum
    folds in depth order. Ref: reference ranker-comparison tests
    (cf. rank_fusion — RBO grades what RRF merges)."""
    d = table(spark, sf_dir, "documents")
    a = (
        d.select("doc_id", "n_chars")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(_RBO_DEPTH)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("n_chars").desc(), "doc_id"))
            .alias("ra"),
        )
    )
    b = (
        d.select("doc_id", F.size(F.split("text", " ")).alias("ntok"))
        .orderBy(F.col("ntok").desc(), "doc_id")
        .limit(_RBO_DEPTH)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("ntok").desc(), "doc_id"))
            .alias("rb"),
        )
    )
    ent = a.join(b, "doc_id").select(
        F.greatest("ra", "rb").alias("entry")
    )
    depths = spark.range(1, _RBO_DEPTH + 1).select(
        F.col("id").cast("int").alias("d")
    )
    ov = (
        depths.join(
            F.broadcast(ent), F.col("entry") <= F.col("d"), "left"
        )
        .groupBy("d")
        .agg(F.count("entry").cast("double").alias("o"))
    )
    terms = ov.select(
        "d",
        (
            (1 - _RBO_P)
            * F.pow(F.lit(_RBO_P), F.col("d") - 1)
            * F.col("o")
            / F.col("d")
        ).alias("t"),
        "o",
    )
    return terms.agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("d", "t")))["t"],
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("rbo"),
        F.max("o").cast("bigint").alias("overlap50"),
    )
