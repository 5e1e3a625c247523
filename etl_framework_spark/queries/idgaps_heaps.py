"""Contract keys: ``dq_id_gaps``, ``llm_heaps_law``.

ID-sequence gap audit and Heaps' law.

Scale notes:

- ``dq_id_gaps``: one window-lag pass over the sorted key column —
  the cheapest 'did we lose a batch' audit (a gap census over
  surrogate keys); integer arithmetic end to end.
- ``llm_heaps_law``: vocabulary growth V(N) ≈ k·N^β WITHOUT
  recomputing distinct counts per checkpoint — each token type
  contributes at its FIRST-occurrence document rank (one min per
  token), so V at every checkpoint is a cumulative count over the
  first-occurrence rollup. Two shuffles regardless of checkpoint
  count; the log-log fit runs on ~10 points.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

_CKPTS = 10


# --------------------------------------------------------------------------
# ID gap census — lost-batch detection over surrogate keys
# --------------------------------------------------------------------------
@query(
    "dq_id_gaps",
    oracle="""
    WITH r AS (
      SELECT o_orderkey AS k,
             lag(o_orderkey) OVER (ORDER BY o_orderkey) AS pk
      FROM orders
    ),
    g AS (SELECT k, pk, k - pk - 1 AS gap FROM r WHERE pk IS NOT NULL)
    SELECT CAST(count(*) + 1 AS BIGINT) AS n_ids,
           CAST(min(pk) AS BIGINT) AS min_id,
           CAST(max(k) AS BIGINT) AS max_id,
           CAST(count(*) FILTER (gap > 0) AS BIGINT) AS n_gaps,
           CAST(coalesce(sum(gap) FILTER (gap > 0), 0) AS BIGINT)
             AS n_missing,
           CAST(coalesce(max(gap), 0) AS BIGINT) AS largest_gap,
           round(CAST(count(*) + 1 AS DOUBLE)
                 / (max(k) - min(pk) + 1), 6) AS density
    FROM g
    """,
)
def dq_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key gap census over o_orderkey: how many ids exist,
    how many holes the sequence has, how many ids are missing inside
    the observed range, the largest single hole, and the density —
    the 30-second 'did an upstream batch vanish' audit (TPC-H
    orderkeys are sparse BY DESIGN, so the density ≈ 0.25 here is the
    expected fingerprint, and a sudden change in it — not the
    absolute value — is the alarm). One window-lag pass over the
    sorted key; all integers."""
    o = table(spark, sf_dir, "orders")
    r = o.select(
        F.col("o_orderkey").alias("k"),
        F.lag("o_orderkey").over(W.orderBy("o_orderkey")).alias("pk"),
    ).filter(F.col("pk").isNotNull())
    g = r.withColumn("gap", F.col("k") - F.col("pk") - 1)
    return g.agg(
        (F.count("*") + 1).cast("bigint").alias("n_ids"),
        F.min("pk").cast("bigint").alias("min_id"),
        F.max("k").cast("bigint").alias("max_id"),
        F.sum(F.when(F.col("gap") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_gaps"),
        F.coalesce(F.sum(F.when(F.col("gap") > 0, F.col("gap"))), F.lit(0))
        .cast("bigint")
        .alias("n_missing"),
        F.coalesce(F.max("gap"), F.lit(0)).cast("bigint").alias("largest_gap"),
        F.round(
            (F.count("*") + 1).cast("double")
            / (F.max("k") - F.min("pk") + 1),
            6,
        ).alias("density"),
    )


# --------------------------------------------------------------------------
# Heaps' law — vocabulary growth exponent from first occurrences
# --------------------------------------------------------------------------
@query(
    "llm_heaps_law",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok <> ''
    ),
    ranked_docs AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
             row_number() OVER (ORDER BY doc_id) AS r,
             count(*) OVER () AS n_docs
      FROM toks GROUP BY doc_id
    ),
    cum AS (
      SELECT r, n_docs,
             sum(n_toks) OVER (ORDER BY r) AS cum_toks
      FROM ranked_docs
    ),
    first_occ AS (
      SELECT t.tok, min(rd.r) AS first_r
      FROM toks t JOIN ranked_docs rd ON rd.doc_id = t.doc_id
      GROUP BY t.tok
    ),
    ckpt AS (
      SELECT c.r, c.cum_toks,
             (SELECT CAST(count(*) AS BIGINT) FROM first_occ f
              WHERE f.first_r <= c.r) AS vocab
      FROM cum c
      WHERE c.r IN (SELECT CAST(floor(n_docs * u / {_CKPTS}.0) AS BIGINT)
                    FROM (SELECT DISTINCT n_docs FROM ranked_docs),
                         range(1, {_CKPTS} + 1) t(u))
    ),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n_points,
             regr_slope(ln(CAST(vocab AS DOUBLE)),
                        ln(CAST(cum_toks AS DOUBLE))) AS beta,
             regr_intercept(ln(CAST(vocab AS DOUBLE)),
                            ln(CAST(cum_toks AS DOUBLE))) AS lnk,
             max(vocab) AS final_vocab, max(cum_toks) AS final_tokens
      FROM ckpt
    )
    SELECT n_points,
           round(beta, 6) AS heaps_beta,
           round(exp(lnk), 4) AS heaps_k,
           CAST(final_vocab AS BIGINT) AS final_vocab,
           CAST(final_tokens AS BIGINT) AS final_tokens
    FROM fit
    """,
)
def llm_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law fit: vocabulary size as a power law of corpus size,
    V(N) = k·N^β, estimated at {_CKPTS} evenly spaced document
    checkpoints — the growth curve that predicts how much NEW
    vocabulary another 10× of corpus will bring (β ≈ 0.4-0.6 for
    natural text; β → 0 means the source is exhausted, β → 1 means
    unbounded novelty, i.e. noise). The trick that makes it one pass:
    every token type enters V at its FIRST-occurrence document rank
    (one min per token), so V at any checkpoint is a count over
    first_r ≤ r — no per-checkpoint distinct scans. Zipf
    (llm_zipf_fit), hapax (llm_hapax_ratio) and this key together
    form the corpus-statistics triad."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    ranked_docs = (
        toks.groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_toks"))
        .withColumn("r", F.row_number().over(W.orderBy("doc_id")))
        .withColumn("n_docs", F.count("*").over(W.partitionBy()))
        .transform(persist_tracked)
    )
    cum = ranked_docs.withColumn(
        "cum_toks", F.sum("n_toks").over(W.orderBy("r"))
    )
    first_occ = (
        toks.join(ranked_docs.select("doc_id", "r"), "doc_id")
        .groupBy("tok")
        .agg(F.min("r").alias("first_r"))
    )
    n_docs_df = ranked_docs.agg(F.max("n_docs").alias("nd"))
    cps = (
        spark.range(1, _CKPTS + 1)
        .crossJoin(F.broadcast(n_docs_df))
        .select(
            F.floor(F.col("nd") * F.col("id") / float(_CKPTS))
            .cast("bigint")
            .alias("r")
        )
        .distinct()
    )
    ckpt_rows = cum.join(cps, "r").select("r", "cum_toks")
    vocab_at = (
        first_occ.crossJoin(F.broadcast(cps.select(F.col("r").alias("cr"))))
        .filter(F.col("first_r") <= F.col("cr"))
        .groupBy("cr")
        .agg(F.count("*").cast("bigint").alias("vocab"))
    )
    ckpt = ckpt_rows.join(
        vocab_at, ckpt_rows.r == vocab_at.cr
    ).select("r", "cum_toks", "vocab")
    fit = ckpt.agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.regr_slope(
            F.log(F.col("vocab").cast("double")),
            F.log(F.col("cum_toks").cast("double")),
        ).alias("beta"),
        F.regr_intercept(
            F.log(F.col("vocab").cast("double")),
            F.log(F.col("cum_toks").cast("double")),
        ).alias("lnk"),
        F.max("vocab").alias("final_vocab"),
        F.max("cum_toks").alias("final_tokens"),
    )
    return fit.select(
        "n_points",
        F.round("beta", 6).alias("heaps_beta"),
        F.round(F.exp("lnk"), 4).alias("heaps_k"),
        F.col("final_vocab").cast("bigint").alias("final_vocab"),
        F.col("final_tokens").cast("bigint").alias("final_tokens"),
    )
