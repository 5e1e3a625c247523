"""Contract keys: ``stats_cuped``, ``llm_cross_source_dups``,
``orders_abc_xyz``.

CUPED variance reduction, cross-source
duplication provenance, and ABC-XYZ inventory classes.

Scale notes:

- ``stats_cuped``: two conditional rollups per user (pre/post
  totals), one covariance pass — the industry-standard experiment
  variance-reduction preflight, reporting exactly how much smaller an
  A/B test could be on this metric.
- ``llm_cross_source_dups``: the (hash, source) rollup self-joined on
  hash — pair counts come from c₁·c₂ products on the ROLLUP, so a
  10⁶-copy text never explodes into pairwise rows.
- ``orders_abc_xyz``: revenue ranking uses 6-dp-quantized totals
  (Lorenz discipline) so class boundaries are a stable total order;
  the XYZ axis is the coefficient of variation of monthly demand from
  integer quantity sums.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# CUPED — pre-period covariate variance reduction for experiments
# --------------------------------------------------------------------------
@query(
    "stats_cuped",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             coalesce(sum(value) FILTER (
               date_trunc('day', ts) < (SELECT min(date_trunc('day', ts))
                                        FROM events) + INTERVAL 15 DAY), 0)
               AS x,
             coalesce(sum(value) FILTER (
               date_trunc('day', ts) >= (SELECT min(date_trunc('day', ts))
                                         FROM events) + INTERVAL 15 DAY), 0)
               AS y
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             covar_samp(x, y) AS cxy, var_samp(x) AS vx, var_samp(y) AS vy,
             covar_samp(x, y) / var_samp(x) AS theta
      FROM per_user
    )
    SELECT n_users,
           round(theta, 6) AS theta,
           round(vy, 6) AS var_y,
           round(vy - cxy * cxy / vx, 6) AS var_adj,
           round(cxy * cxy / (vx * vy), 6) AS var_reduction
    FROM s WHERE vx > 0 AND vy > 0
    """,
)
def stats_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED preflight: using each user's PRE-period value total
    (days 1-15) as the control covariate for the post-period metric
    (days 16-30), report θ = cov(X,Y)/var(X) and the achievable
    variance reduction ρ² = cov²/(var·var) — the number that says 'a
    CUPED-adjusted experiment on this metric needs (1−ρ²)× the
    sample', which is the cheapest win in all of experimentation.
    Var(Y − θX) = var(Y) − cov²/var(X) is reported as var_adj. One
    conditional-agg rollup per user and one covariance pass; the
    covariance aggregates are single-pass sufficient statistics."""
    e = table(spark, sf_dir, "events")
    d0 = e.agg(F.min(F.date_trunc("day", "ts")).alias("d0"))
    tagged = e.crossJoin(F.broadcast(d0)).select(
        "user_id",
        "value",
        (
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("d0")) < 15
        ).alias("pre"),
    )
    per_user = tagged.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("pre"), F.col("value"))), F.lit(0.0)).alias(
            "x"
        ),
        F.coalesce(
            F.sum(F.when(~F.col("pre"), F.col("value"))), F.lit(0.0)
        ).alias("y"),
    )
    s = per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.covar_samp("x", "y").alias("cxy"),
        F.var_samp("x").alias("vx"),
        F.var_samp("y").alias("vy"),
    )
    return s.filter((F.col("vx") > 0) & (F.col("vy") > 0)).select(
        "n_users",
        F.round(F.col("cxy") / F.col("vx"), 6).alias("theta"),
        F.round("vy", 6).alias("var_y"),
        F.round(
            F.col("vy") - F.col("cxy") * F.col("cxy") / F.col("vx"), 6
        ).alias("var_adj"),
        F.round(
            F.col("cxy") * F.col("cxy") / (F.col("vx") * F.col("vy")), 6
        ).alias("var_reduction"),
    )


# --------------------------------------------------------------------------
# Cross-source duplication matrix — who copies from whom
# --------------------------------------------------------------------------
@query(
    "llm_cross_source_dups",
    oracle="""
    WITH hs AS (
      SELECT md5(text) AS h, source, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY h, source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_texts,
           CAST(sum(a.c * b.c) AS BIGINT) AS n_dup_pairs
    FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
    GROUP BY source_a, source_b
    """,
)
def llm_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication provenance: for every source pair,
    how many distinct texts appear verbatim in BOTH (md5 identity)
    and how many doc-level duplicate pairs that implies — the matrix
    that reveals mirror sites, syndication, and scraper overlap
    before anyone double-counts a corpus slice in the training mix.
    Pair counts are c₁·c₂ products over the (hash, source) ROLLUP
    self-joined on hash — a text copied a million times contributes
    one rollup row per source, never pairwise rows, so the plan is
    immune to dup-clique blowup (the failure mode SCALE.md documents
    for pair-emitting dedup)."""
    d = table(spark, sf_dir, "documents")
    hs = d.groupBy(F.md5("text").alias("h"), "source").agg(
        F.count("*").cast("bigint").alias("c")
    )
    a = hs.select("h", F.col("source").alias("source_a"), F.col("c").alias("ca"))
    b = hs.select(
        F.col("h").alias("hb"),
        F.col("source").alias("source_b"),
        F.col("c").alias("cb"),
    )
    return (
        a.join(
            b,
            (F.col("h") == F.col("hb"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("bigint").alias("n_shared_texts"),
            F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("n_dup_pairs"),
        )
    )


# --------------------------------------------------------------------------
# ABC-XYZ — revenue importance × demand variability matrix
# --------------------------------------------------------------------------
@query(
    "orders_abc_xyz",
    oracle="""
    WITH monthly AS (
      SELECT l.l_partkey AS part, date_trunc('month', o.o_orderdate) AS mon,
             sum(l.l_quantity) AS qty
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY part, mon
    ),
    per_part AS (
      SELECT part,
             round(sum(qty), 6) AS rev_proxy,
             avg(qty) AS mq, stddev_samp(qty) AS sq,
             CAST(count(*) AS BIGINT) AS n_months
      FROM monthly GROUP BY part
    ),
    ranked AS (
      SELECT part, rev_proxy, mq, sq, n_months,
             sum(rev_proxy) OVER (ORDER BY rev_proxy DESC, part)
               / sum(rev_proxy) OVER () AS cum_share
      FROM per_part
    ),
    classed AS (
      SELECT CASE WHEN cum_share <= 0.8 THEN 'A'
                  WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc,
             CASE WHEN n_months < 2 OR sq IS NULL THEN 'Z'
                  WHEN sq / mq < 0.5 THEN 'X'
                  WHEN sq / mq < 1.0 THEN 'Y' ELSE 'Z' END AS xyz,
             rev_proxy
      FROM ranked
    )
    SELECT abc, xyz,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(rev_proxy) / sum(sum(rev_proxy)) OVER (), 6)
             AS demand_share
    FROM classed GROUP BY abc, xyz
    """,
)
def orders_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory matrix over parts: ABC = cumulative-demand
    importance (A covers 80%, B to 95%, C tail — sales_abc's ranking
    applied to parts) crossed with XYZ = demand PREDICTABILITY (the
    coefficient of variation of monthly quantity: X < 0.5 steady,
    Y < 1.0 variable, Z erratic or too new to tell). A-X items get
    automated replenishment; C-Z items get manual review — the matrix
    is the operating decision, and needs both axes this engine
    already certifies separately. Per-part totals are quantized to
    6 dp before ranking (the Lorenz discipline) so class boundaries
    are a stable total order on both engines; CV comes from monthly
    integer-quantity sums."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    monthly = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.date_trunc("month", "o_orderdate").alias("mon"),
        )
        .agg(F.sum("l_quantity").alias("qty"))
    )
    per_part = monthly.groupBy("part").agg(
        F.round(F.sum("qty"), 6).alias("rev_proxy"),
        F.avg("qty").alias("mq"),
        F.stddev_samp("qty").alias("sq"),
        F.count("*").cast("bigint").alias("n_months"),
    )
    w_cum = W.orderBy(F.col("rev_proxy").desc(), "part").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_all = W.partitionBy()
    ranked = per_part.select(
        "part",
        "rev_proxy",
        "mq",
        "sq",
        "n_months",
        (F.sum("rev_proxy").over(w_cum) / F.sum("rev_proxy").over(w_all)).alias(
            "cum_share"
        ),
    )
    cv = F.col("sq") / F.col("mq")
    classed = ranked.select(
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc"),
        F.when((F.col("n_months") < 2) | F.col("sq").isNull(), "Z")
        .when(cv < 0.5, "X")
        .when(cv < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
        "rev_proxy",
    )
    cells = classed.groupBy("abc", "xyz").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.sum("rev_proxy").alias("cell_rev"),
    )
    return cells.select(
        "abc",
        "xyz",
        "n_parts",
        F.round(F.col("cell_rev") / F.sum("cell_rev").over(w_all), 6).alias(
            "demand_share"
        ),
    )
