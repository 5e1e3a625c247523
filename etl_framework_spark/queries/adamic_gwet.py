"""Contract keys: ``graph_adamic_adar``, ``stats_gwet_ac1``,
``sales_adoption_curve``.

Adamic-Adar link prediction, Gwet's AC1
agreement, and the customer adoption curve.

Reference parity: the reference's graph-scoring, inter-rater, and
lifecycle analytics — Adamic-Adar complements the Jaccard scorer of
``graph_link_predict`` (same token-adjacency graph, same wedge
join), AC1 pairs with ``stats_cohens_kappa`` on the SAME two raters
(the kappa-paradox check), and the adoption curve tracks cumulative
first-purchase market penetration.

Scale notes:

- ``graph_adamic_adar``: the wedge join is degree-capped exactly
  like graph_link_predict — hub tokens never explode the join; the
  1/ln(deg) weight rides along the wedge row.
- ``stats_gwet_ac1``: four conditional counts, one scan.
- ``sales_adoption_curve``: first purchase per customer is one
  min-rollup; the cumulative curve is a window over |months|.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.graph import token_adjacency
from etl_framework_spark.cacheutil import persist_tracked

_AA_MAX_DEG = 64
_AA_TOP = 25
_BIG_ORDER = 150000.0  # same rater-A threshold as stats_cohens_kappa


# --------------------------------------------------------------------------
# Adamic-Adar link prediction on the token-adjacency graph
# --------------------------------------------------------------------------
@query(
    "graph_adamic_adar",
    oracle=f"""
    WITH t AS (SELECT string_split(text, ' ') AS l FROM documents
               WHERE len(string_split(text, ' ')) >= 2),
    adj AS (
      SELECT least(l[i], l[i + 1]) AS a, greatest(l[i], l[i + 1]) AS b
      FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i FROM t)
      WHERE l[i] <> l[i + 1]
    ),
    edges AS (SELECT DISTINCT a, b FROM adj),
    nbr AS (
      SELECT a AS node, b AS nb FROM edges
      UNION ALL SELECT b AS node, a AS nb FROM edges
    ),
    deg AS (SELECT node, CAST(count(*) AS DOUBLE) AS d FROM nbr
            GROUP BY node),
    small AS (
      SELECT nbr.node, nbr.nb FROM nbr JOIN deg USING (node)
      WHERE d <= {_AA_MAX_DEG}
    ),
    wedges AS (
      SELECT x.node AS u, y.node AS v,
             CAST(count(*) AS BIGINT) AS common,
             sum(1.0 / ln(dn.d)) AS aa
      FROM small x JOIN small y ON x.nb = y.nb AND x.node < y.node
      JOIN deg dn ON dn.node = x.nb
      WHERE dn.d > 1
      GROUP BY u, v
    ),
    scored AS (
      SELECT w.u, w.v, w.common,
             floor(w.aa * 1000000 + 0.5) / 1000000 AS adamic_adar
      FROM wedges w
      WHERE NOT EXISTS (SELECT 1 FROM edges e
                        WHERE e.a = w.u AND e.b = w.v)
    )
    SELECT u, v, common AS common_neighbors, adamic_adar
    FROM scored ORDER BY adamic_adar DESC, u, v LIMIT {_AA_TOP}
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the token-adjacency graph: for
    non-adjacent token pairs, AA = Σ 1/ln(deg) over shared neighbors
    — rare shared neighbors count more than hubs, the refinement
    that makes AA beat raw common-neighbor counts. Same degree-capped
    wedge join as graph_link_predict (hub nodes excluded from the
    quadratic step — at 100 TB the join stays |wedges|-sized), with
    the 1/ln weight folded into the wedge aggregation and
    grid-quantized for the ranking. Ref: reference link-prediction
    tests (cf. graph_link_predict for the Jaccard scorer on the
    identical graph — the two rankings disagree exactly where hub
    neighbors dominate)."""
    docs = table(spark, sf_dir, "documents")
    # persist: the edge set feeds both union branches of the adjacency
    # view plus the final non-adjacency anti-join, and the degree-capped
    # adjacency feeds both wedge sides — unpersisted, the bigram
    # explode+distinct replayed 11× (counted in the golden plan, r10)
    edges = token_adjacency(docs).transform(persist_tracked)
    nbr = edges.select(F.col("a").alias("node"), F.col("b").alias("nb")).unionAll(
        edges.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    )
    deg = nbr.groupBy("node").agg(F.count(F.lit(1)).cast("double").alias("d"))
    small = nbr.join(deg, "node").filter(F.col("d") <= _AA_MAX_DEG).select(
        "node", "nb"
    ).transform(persist_tracked)
    x = small.select(F.col("node").alias("u"), F.col("nb").alias("nb"))
    y = small.select(F.col("node").alias("v"), F.col("nb").alias("nb"))
    dn = deg.select(F.col("node").alias("nb"), F.col("d").alias("dn"))
    wedges = (
        x.join(y, "nb")
        .filter(F.col("u") < F.col("v"))
        .join(F.broadcast(dn.filter(F.col("dn") > 1)), "nb")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common"),
            F.sum(1.0 / F.log(F.col("dn"))).alias("aa"),
        )
    )
    scored = wedges.join(
        edges, (wedges.u == edges.a) & (wedges.v == edges.b), "left_anti"
    ).select(
        "u",
        "v",
        F.col("common").alias("common_neighbors"),
        (F.floor(F.col("aa") * 1000000.0 + 0.5) / 1000000.0).alias("adamic_adar"),
    )
    return scored.orderBy(F.desc("adamic_adar"), "u", "v").limit(_AA_TOP)


# --------------------------------------------------------------------------
# Gwet's AC1 on the same two raters as stats_cohens_kappa
# --------------------------------------------------------------------------
@query(
    "stats_gwet_ac1",
    oracle=f"""
    WITH r AS (
      SELECT o_totalprice > {_BIG_ORDER} AS a,
             o_orderpriority IN ('1-URGENT', '2-HIGH') AS b
      FROM orders
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(count(*) FILTER (a AND b) AS DOUBLE) AS n11,
             CAST(count(*) FILTER (a AND NOT b) AS DOUBLE) AS n10,
             CAST(count(*) FILTER (NOT a AND b) AS DOUBLE) AS n01,
             CAST(count(*) FILTER (NOT a AND NOT b) AS DOUBLE) AS n00
      FROM r
    ),
    s AS (
      SELECT n, (n11 + n00) / n AS po,
             ((n11 + n10) / n + (n11 + n01) / n) / 2.0 AS pi,
             ((n11 + n10) / n) * ((n11 + n01) / n)
               + ((n01 + n00) / n) * ((n10 + n00) / n) AS pe_kappa
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(po, 6) AS po,
           round(pe_kappa, 6) AS pe_kappa,
           round((po - pe_kappa) / (1 - pe_kappa), 6) AS kappa,
           round(2 * pi * (1 - pi), 6) AS pe_ac1,
           round((po - 2 * pi * (1 - pi)) / (1 - 2 * pi * (1 - pi)), 6)
             AS ac1
    FROM s
    """,
)
def stats_gwet_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gwet's AC1 agreement coefficient on the SAME two raters as
    stats_cohens_kappa (big-order flag vs urgent-priority flag):
    AC1's chance correction 2π(1−π) uses the MEAN marginal π instead
    of the product of both margins — immune to the kappa paradox
    (high observed agreement, absurdly low kappa when prevalence is
    skewed). Shipping both coefficients over identical counts is the
    agreement-audit the reference runs; the gap between `kappa` and
    `ac1` IS the prevalence-skew diagnosis. Four conditional counts,
    one scan, integer-exact. Ref: reference inter-rater tests (cf.
    stats_cohens_kappa, stats_mcnemar)."""
    od = table(spark, sf_dir, "orders")
    r = od.select(
        (F.col("o_totalprice") > _BIG_ORDER).alias("a"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("b"),
    )
    m = r.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("double")
        .alias("n11"),
        F.sum(F.when(F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("double")
        .alias("n10"),
        F.sum(F.when(~F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("double")
        .alias("n01"),
        F.sum(F.when(~F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("double")
        .alias("n00"),
    )
    n = F.col("n")
    pa = (F.col("n11") + F.col("n10")) / n
    pb = (F.col("n11") + F.col("n01")) / n
    s = m.select(
        "n",
        ((F.col("n11") + F.col("n00")) / n).alias("po"),
        ((pa + pb) / 2.0).alias("pi"),
        (pa * pb + ((F.col("n01") + F.col("n00")) / n) * ((F.col("n10") + F.col("n00")) / n)).alias(
            "pe_kappa"
        ),
    )
    pe_ac1 = 2 * F.col("pi") * (1 - F.col("pi"))
    return s.select(
        n.cast("bigint").alias("n"),
        F.round("po", 6).alias("po"),
        F.round("pe_kappa", 6).alias("pe_kappa"),
        F.round((F.col("po") - F.col("pe_kappa")) / (1 - F.col("pe_kappa")), 6).alias(
            "kappa"
        ),
        F.round(pe_ac1, 6).alias("pe_ac1"),
        F.round((F.col("po") - pe_ac1) / (1 - pe_ac1), 6).alias("ac1"),
    )


# --------------------------------------------------------------------------
# Adoption curve: cumulative first-purchase market penetration
# --------------------------------------------------------------------------
@query(
    "sales_adoption_curve",
    oracle="""
    WITH first_buy AS (
      SELECT o_custkey AS cust,
             min(date_trunc('month', CAST(o_orderdate AS DATE))) AS m0
      FROM orders GROUP BY cust
    ),
    monthly AS (
      SELECT CAST(m0 AS TIMESTAMP) AS month,
             CAST(count(*) AS BIGINT) AS new_customers
      FROM first_buy GROUP BY m0
    ),
    c AS (
      SELECT month, new_customers,
             sum(new_customers) OVER (ORDER BY month) AS cum,
             sum(new_customers) OVER () AS total
      FROM monthly
    )
    SELECT month, new_customers,
           CAST(cum AS BIGINT) AS cum_customers,
           round(CAST(cum AS DOUBLE) / total, 6) AS adoption_share
    FROM c WHERE round(CAST(cum AS DOUBLE) / total, 6) <= 0.5
    ORDER BY month
    """,
)
def sales_adoption_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer adoption curve — cumulative share of the (eventual)
    customer base that has made its FIRST purchase, by month,
    reported up to the 50%-penetration month. The Bass-diffusion-
    style view: a convex early curve = innovator-driven growth, the
    month crossing 0.5 is the market half-life. First purchase per
    customer is one min-rollup; the curve is a window over |months|.
    Integer counts → bit-exact. Ref: reference lifecycle tests (cf.
    cohort_retention, events_growth_accounting)."""
    od = table(spark, sf_dir, "orders")
    first_buy = od.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.min(F.date_trunc("month", F.col("o_orderdate").cast("date"))).alias("m0")
    )
    monthly = first_buy.groupBy(F.col("m0").cast("timestamp").alias("month")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_customers")
    )
    wc = W.orderBy("month")
    wall = W.partitionBy()
    c = monthly.select(
        "month",
        "new_customers",
        F.sum("new_customers").over(wc).alias("cum"),
        F.sum("new_customers").over(wall).alias("total"),
    )
    share = F.round(F.col("cum").cast("double") / F.col("total"), 6)
    return (
        c.select(
            "month",
            "new_customers",
            F.col("cum").cast("bigint").alias("cum_customers"),
            share.alias("adoption_share"),
        )
        .filter(F.col("adoption_share") <= 0.5)
        .orderBy("month")
    )
