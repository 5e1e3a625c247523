"""Contract keys: ``stats_hodges_lehmann``, ``stats_mcnemar``,
``vec_rocchio_feedback``.

Hodges-Lehmann pseudo-median, McNemar's paired
test, and Rocchio relevance feedback.

Reference parity: the reference's robust-location estimator, its
paired-classifier comparison, and its feedback re-ranker — re-
expressed as Walsh-average medians over a rollup, a 2x2 discordance
closed form, and a two-pass centroid-adjusted retrieval.

Scale notes:

- ``stats_hodges_lehmann``: Walsh averages are O(k²) in the GROUP
  count (25 nation means → 325 pairs), never in fact rows — the
  robust-location trick stays rollup-sized.
- ``stats_mcnemar``: the paired test needs only the discordant
  cells of the same one-pass confusion matrix Cohen's kappa reads.
- ``vec_rocchio_feedback``: pass 1 retrieves top-k by cosine to the
  query; pass 2 re-scores against q' = α·q + β·mean(top-k) (both
  broadcast) — the classic pseudo-relevance feedback loop as two
  linear scans, with the rank churn reported as the feedback
  effect.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.cacheutil import persist_tracked
from etl_framework_spark.catalog import table
from etl_framework_spark.operators.similarity import cosine, duck_cosine
from etl_framework_spark.registry import query

_BIG = 150000.0
_CHI2_1_95 = 3.841458820694124
_Q_VEC = 7
_FB_K = 10
_ALPHA, _BETA = 0.7, 0.3


# --------------------------------------------------------------------------
# Hodges-Lehmann pseudo-median of per-nation balances
# --------------------------------------------------------------------------
@query(
    "stats_hodges_lehmann",
    oracle="""
    WITH g AS (
      SELECT c_nationkey AS nk, avg(c_acctbal) AS x
      FROM customer GROUP BY nk
    ),
    walsh AS (
      SELECT (a.x + b.x) / 2 AS w
      FROM g a JOIN g b ON a.nk <= b.nk
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_groups,
           (SELECT CAST(count(*) AS BIGINT) FROM walsh) AS n_walsh,
           round((SELECT quantile_cont(x, 0.5) FROM g), 6)
             AS plain_median,
           round((SELECT avg(x) FROM g), 6) AS mean,
           round((SELECT quantile_cont(w, 0.5) FROM walsh), 6)
             AS hodges_lehmann
    """,
)
def stats_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann pseudo-median of the per-nation mean balances:
    the median of all pairwise (Walsh) averages — the location
    estimator behind the Wilcoxon test, more efficient than the
    median on near-normal data yet still 29%-breakdown robust; shown
    against the plain median and mean so the three-way comparison
    reads directly. The O(k²) Walsh set lives on the 25-row rollup.
    Ref: reference robust-location tests (cf. stats_trimmed_mean,
    stats_median_ci)."""
    cu = table(spark, sf_dir, "customer")
    g = cu.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.avg("c_acctbal").alias("x")
    )
    a = g.select(F.col("nk").alias("ka"), F.col("x").alias("xa"))
    b = g.select(F.col("nk").alias("kb"), F.col("x").alias("xb"))
    walsh = a.join(F.broadcast(b), F.col("ka") <= F.col("kb")).select(
        ((F.col("xa") + F.col("xb")) / 2).alias("w")
    )
    stats = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.round(F.percentile("x", 0.5), 6).alias("plain_median"),
        F.round(F.avg("x"), 6).alias("mean"),
    )
    hl = walsh.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_walsh"),
        F.round(F.percentile("w", 0.5), 6).alias("hodges_lehmann"),
    )
    return stats.crossJoin(hl).select(
        "n_groups", "n_walsh", "plain_median", "mean", "hodges_lehmann"
    )


# --------------------------------------------------------------------------
# McNemar's test: do the two order classifiers disagree symmetrically?
# --------------------------------------------------------------------------
@query(
    "stats_mcnemar",
    oracle=f"""
    WITH r AS (
      SELECT o_totalprice > {_BIG} AS a,
             o_orderpriority IN ('1-URGENT', '2-HIGH') AS b
      FROM orders
    ),
    m AS (
      SELECT CAST(count(*) FILTER (a AND NOT b) AS DOUBLE) AS n10,
             CAST(count(*) FILTER (NOT a AND b) AS DOUBLE) AS n01
      FROM r
    )
    SELECT CAST(n10 AS BIGINT) AS n10,
           CAST(n01 AS BIGINT) AS n01,
           round((n10 - n01) * (n10 - n01) / (n10 + n01), 6) AS mcnemar_chi2,
           (n10 - n01) * (n10 - n01) / (n10 + n01) > {_CHI2_1_95}
             AS marginal_rates_differ
    FROM m
    """,
)
def stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test on the same two order 'raters' Cohen's
    kappa scores (price rule vs priority rule): χ² = (b−c)²/(b+c)
    over the DISCORDANT cells only — kappa asks 'do they agree',
    McNemar asks the different question 'do they fire at the same
    RATE', and a rule pair can ace one while failing the other. Same
    one-pass confusion matrix; two cells of arithmetic. Ref:
    reference paired-test suite (cf. stats_cohens_kappa)."""
    od = table(spark, sf_dir, "orders")
    a = F.col("o_totalprice") > _BIG
    b = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    m = od.agg(
        F.count(F.when(a & ~b, 1)).cast("double").alias("n10"),
        F.count(F.when(~a & b, 1)).cast("double").alias("n01"),
    )
    chi2 = (F.col("n10") - F.col("n01")) * (F.col("n10") - F.col("n01")) / (
        F.col("n10") + F.col("n01")
    )
    return m.select(
        F.col("n10").cast("bigint").alias("n10"),
        F.col("n01").cast("bigint").alias("n01"),
        F.round(chi2, 6).alias("mcnemar_chi2"),
        (chi2 > _CHI2_1_95).alias("marginal_rates_differ"),
    )


# --------------------------------------------------------------------------
# Rocchio pseudo-relevance feedback re-ranking
# --------------------------------------------------------------------------
@query(
    "vec_rocchio_feedback",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings
               WHERE vec_id = {_Q_VEC}),
    base AS (
      SELECT v.vec_id, {duck_cosine("v.embedding", "q.qe")} AS cos0
      FROM embeddings v CROSS JOIN q WHERE v.vec_id <> {_Q_VEC}
    ),
    top0 AS (
      SELECT vec_id, cos0,
             row_number() OVER (ORDER BY cos0 DESC, vec_id) AS rk0
      FROM base
    ),
    fb AS (SELECT vec_id FROM top0 WHERE rk0 <= {_FB_K}),
    cent AS (
      SELECT g.i AS dim,
             avg(CAST(v.embedding[g.i] AS DOUBLE)) AS mu
      FROM embeddings v JOIN fb ON v.vec_id = fb.vec_id
      CROSS JOIN generate_series(1, 64) g(i)
      GROUP BY dim
    ),
    q2 AS (
      SELECT list({_ALPHA} * CAST(q.qe[cent.dim] AS DOUBLE)
                  + {_BETA} * cent.mu ORDER BY cent.dim) AS qe2
      FROM cent CROSS JOIN q
    ),
    rescored AS (
      SELECT v.vec_id,
             {duck_cosine("v.embedding", "q2.qe2")} AS cos1
      FROM embeddings v CROSS JOIN q2 WHERE v.vec_id <> {_Q_VEC}
    ),
    top1 AS (
      SELECT vec_id, cos1,
             row_number() OVER (ORDER BY cos1 DESC, vec_id) AS rk1
      FROM rescored
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM top0 t0
            JOIN top1 t1 ON t0.vec_id = t1.vec_id
            WHERE t0.rk0 <= {_FB_K} AND t1.rk1 <= {_FB_K}) AS top10_overlap,
           (SELECT vec_id FROM top1 WHERE rk1 = 1) AS new_top1,
           (SELECT vec_id FROM top0 WHERE rk0 = 1) AS old_top1,
           round((SELECT max(cos1) FROM top1), 6) AS new_top_score,
           round((SELECT max(cos0) FROM top0), 6) AS old_top_score
    """,
)
def vec_rocchio_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback: retrieve top-10 by cosine
    to the query, move the query toward their centroid
    (q' = 0.7·q + 0.3·μ_top10), re-rank, and report the churn — the
    top-10 overlap between passes, whether the #1 result changed,
    and the score lift. The feedback loop every classic IR engine
    ships, as two linear scans with broadcast query vectors (the
    centroid is 64 numbers). Ref: reference feedback-ranking tests
    (cf. llm_query_likelihood, vec_maxsim_lite)."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _Q_VEC).select(
        F.col("embedding").alias("qe")
    )
    docs = emb.filter(F.col("vec_id") != _Q_VEC)
    base = docs.crossJoin(F.broadcast(q)).select(
        "vec_id", cosine(F.col("embedding"), F.col("qe")).alias("cos0")
    )
    w0 = W.partitionBy().orderBy(F.desc("cos0"), "vec_id")
    # persist both ranked passes: top0 is referenced THREE times (the
    # feedback set feeding the rescore lineage, the overlap join, the
    # old-top1 row) and top1 twice — unpersisted, each reference
    # replays the full corpus cosine scan (the golden plan carried 28
    # embedding scans). Tiny frames: one (vec_id, cos, rk) row per doc.
    top0 = base.withColumn("rk0", F.row_number().over(w0)).transform(persist_tracked)
    fb = top0.filter(F.col("rk0") <= _FB_K).select("vec_id")
    cent = (
        emb.join(fb, "vec_id")
        .select(F.posexplode("embedding").alias("pos", "xf"))
        .groupBy("pos")
        .agg(F.avg(F.col("xf").cast("double")).alias("mu"))
    )
    q2 = (
        cent.crossJoin(F.broadcast(q))
        .select(
            "pos",
            (
                _ALPHA
                * F.element_at(F.col("qe"), (F.col("pos") + 1).cast("int")).cast(
                    "double"
                )
                + _BETA * F.col("mu")
            ).alias("c"),
        )
        .groupBy()
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("sv")
        )
        .select(F.col("sv.c").alias("qe2"))
    )
    rescored = docs.crossJoin(F.broadcast(q2)).select(
        "vec_id", cosine(F.col("embedding"), F.col("qe2")).alias("cos1")
    )
    w1 = W.partitionBy().orderBy(F.desc("cos1"), "vec_id")
    top1 = rescored.withColumn("rk1", F.row_number().over(w1)).transform(persist_tracked)
    overlap = (
        top0.filter(F.col("rk0") <= _FB_K)
        .select("vec_id")
        .join(top1.filter(F.col("rk1") <= _FB_K).select("vec_id"), "vec_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("top10_overlap"))
    )
    new1 = top1.filter(F.col("rk1") == 1).select(
        F.col("vec_id").alias("new_top1"),
        F.round("cos1", 6).alias("new_top_score"),
    )
    old1 = top0.filter(F.col("rk0") == 1).select(
        F.col("vec_id").alias("old_top1"),
        F.round("cos0", 6).alias("old_top_score"),
    )
    # broadcast the single-row scalar frames explicitly: with top0/top1
    # persisted the planner loses their 1-row stats and degrades these
    # crossJoins to CartesianProduct (flagged by the plan lint).
    return overlap.crossJoin(F.broadcast(new1)).crossJoin(F.broadcast(old1)).select(
        "top10_overlap", "new_top1", "old_top1", "new_top_score", "old_top_score"
    )
