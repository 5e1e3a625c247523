"""Contract keys: ``llm_collocations_llr``, ``feat_infogain``,
``stats_simpsons``.

Collocation significance, feature-label mutual
information, and the Simpson's-paradox audit.

Reference parity: the reference's text-collocation scorer (the
significance-tested upgrade of PMI), its feature-selection stats, and
its stratified-vs-pooled regression audit — re-expressed as rollup
joins + closed forms.

Scale notes:

- ``llm_collocations_llr``: the 2x2 contingency marginals come from
  the SAME bigram rollup as the counts (two small re-aggregations,
  broadcast back) — tokens are exploded once; the G² formula is
  expression-only on the bigram rollup.
- ``feat_infogain``: all three candidate features go through ONE
  union-all + one groupBy (a single shuffle keyed by
  (feature, value, label)); marginals via windows over per-feature
  partitions of the tiny rollup.
- ``stats_simpsons``: per-stratum AND pooled regressions from one
  ROLLUP aggregation (partial aggregates shared); the flip flag is a
  window lookup of the pooled row on the 4-row result.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.textops import shingles, tokens
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

_MIN_BG = 10  # min bigram count for LLR scoring
_TOP = 20


# --------------------------------------------------------------------------
# Dunning log-likelihood-ratio collocations (significance-tested PMI)
# --------------------------------------------------------------------------
@query(
    "llm_collocations_llr",
    oracle=f"""
    WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
    bi AS (SELECT unnest(list_transform(
                    generate_series(1, greatest(len(l) - 1, 1)),
                    i -> concat_ws(' ', l[i], l[i+1]))) AS bg
           FROM t),
    bic AS (SELECT split_part(bg, ' ', 1) AS w1,
                   split_part(bg, ' ', 2) AS w2,
                   CAST(count(*) AS DOUBLE) AS k11
            FROM bi GROUP BY w1, w2),
    rt AS (SELECT w1, sum(k11) AS r1 FROM bic GROUP BY w1),
    ct AS (SELECT w2, sum(k11) AS c1 FROM bic GROUP BY w2),
    nn AS (SELECT sum(k11) AS n FROM bic),
    cells AS (
      SELECT bic.w1, bic.w2, k11,
             r1 - k11 AS k12, c1 - k11 AS k21,
             n - r1 - c1 + k11 AS k22, r1, c1, n
      FROM bic JOIN rt ON bic.w1 = rt.w1
               JOIN ct ON bic.w2 = ct.w2
               CROSS JOIN nn
      WHERE k11 >= {_MIN_BG}
    ),
    g AS (
      SELECT w1, w2, CAST(k11 AS BIGINT) AS n_bigram,
             2 * (k11 * ln(k11 * n / (r1 * c1))
                  + CASE WHEN k12 > 0
                         THEN k12 * ln(k12 * n / (r1 * (n - c1)))
                         ELSE 0 END
                  + CASE WHEN k21 > 0
                         THEN k21 * ln(k21 * n / ((n - r1) * c1))
                         ELSE 0 END
                  + CASE WHEN k22 > 0
                         THEN k22 * ln(k22 * n / ((n - r1) * (n - c1)))
                         ELSE 0 END) AS llr
      FROM cells
    )
    SELECT w1, w2, n_bigram, round(llr, 6) AS llr
    FROM g ORDER BY llr DESC, w1, w2 LIMIT {_TOP}
    """,
)
def llm_collocations_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by Dunning's log-likelihood ratio: the 2x2
    contingency G² = 2·Σ k·ln(kN/(RC)) over (bigram, first-word rest,
    second-word rest, neither) — unlike raw PMI it punishes
    low-support flukes, which is why it's the classic collocation
    test. All four cells derive from ONE bigram rollup (row/column
    marginals are re-aggregations of it, broadcast back); ln-identity
    op order matches DuckDB exactly. Deterministic (llr, w1, w2)
    top-k. Ref: reference collocation tests (cf. llm_pmi)."""
    docs = table(spark, sf_dir, "documents")
    bi = docs.select(tokens("text").alias("l")).select(
        F.explode(shingles("l", 2)).alias("bg")
    )
    bic = (
        bi.select(
            F.expr("split_part(bg, ' ', 1)").alias("w1"),
            F.expr("split_part(bg, ' ', 2)").alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("double").alias("k11"))
    ).transform(persist_tracked)  # row/column marginals, the total, and the cell frame
    # all re-aggregate this rollup — unpersisted, the bigram explode
    # over documents ran 4× (r10). Vocab²-bounded, realistically small.
    rt = bic.groupBy("w1").agg(F.sum("k11").alias("r1"))
    ct = bic.groupBy("w2").agg(F.sum("k11").alias("c1"))
    nn = bic.agg(F.sum("k11").alias("n"))
    cells = (
        bic.join(F.broadcast(rt), "w1")
        .join(F.broadcast(ct), "w2")
        .crossJoin(F.broadcast(nn))
        .filter(F.col("k11") >= _MIN_BG)
        .withColumn("k12", F.col("r1") - F.col("k11"))
        .withColumn("k21", F.col("c1") - F.col("k11"))
        .withColumn("k22", F.col("n") - F.col("r1") - F.col("c1") + F.col("k11"))
    )
    term = lambda k, e: F.when(k > 0, k * F.log(k * F.col("n") / e)).otherwise(
        F.lit(0.0)
    )
    llr = 2 * (
        F.col("k11") * F.log(F.col("k11") * F.col("n") / (F.col("r1") * F.col("c1")))
        + term(F.col("k12"), F.col("r1") * (F.col("n") - F.col("c1")))
        + term(F.col("k21"), (F.col("n") - F.col("r1")) * F.col("c1"))
        + term(
            F.col("k22"), (F.col("n") - F.col("r1")) * (F.col("n") - F.col("c1"))
        )
    )
    return (
        cells.select(
            "w1",
            "w2",
            F.col("k11").cast("bigint").alias("n_bigram"),
            F.round(llr, 6).alias("llr"),
        )
        .orderBy(F.desc("llr"), "w1", "w2")
        .limit(_TOP)
    )


# --------------------------------------------------------------------------
# Mutual information of candidate features vs a binary label
# --------------------------------------------------------------------------
@query(
    "feat_infogain",
    oracle="""
    WITH lab AS (
      SELECT o_orderstatus = 'F' AS y,
             o_orderpriority AS f_priority,
             CAST(month(o_orderdate) AS VARCHAR) AS f_month,
             CAST(o_custkey % 10 AS VARCHAR) AS f_custmod
      FROM orders
    ),
    long AS (
      SELECT 'priority' AS feature, f_priority AS val, y FROM lab
      UNION ALL
      SELECT 'month' AS feature, f_month AS val, y FROM lab
      UNION ALL
      SELECT 'custmod' AS feature, f_custmod AS val, y FROM lab
    ),
    j AS (
      SELECT feature, val, y, CAST(count(*) AS DOUBLE) AS c
      FROM long GROUP BY feature, val, y
    ),
    m AS (
      SELECT feature, val, y, c,
             sum(c) OVER (PARTITION BY feature, val) AS cx,
             sum(c) OVER (PARTITION BY feature, y) AS cy,
             sum(c) OVER (PARTITION BY feature) AS n
      FROM j
    ),
    mi AS (
      SELECT feature,
             CAST(count(DISTINCT val) AS BIGINT) AS n_levels,
             sum(c / n * ln(c * n / (cx * cy))) AS mi_nats
      FROM m GROUP BY feature
    ),
    hy AS (
      SELECT feature,
             -sum(cy / n * ln(cy / n)) AS h_label
      FROM (SELECT DISTINCT feature, y, cy, n FROM m) GROUP BY feature
    )
    SELECT mi.feature, n_levels,
           round(mi_nats, 6) AS mi_nats,
           round(h_label, 6) AS h_label,
           round(mi_nats / h_label, 6) AS uncertainty_coeff
    FROM mi JOIN hy ON mi.feature = hy.feature
    """,
)
def feat_infogain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information gain (mutual information, nats) of three candidate
    features — order priority, order month, and a deliberately
    uninformative custkey%10 noise probe — against the order-status
    label, plus Theil's uncertainty coefficient MI/H(label) so
    features are comparable across label skews. One union-all long
    table → ONE joint-count shuffle; every marginal is a window over
    the tiny (feature,val,y) rollup. The noise probe scoring ≈0 is
    the built-in sanity check. Ref: reference feature-selection
    tests."""
    od = table(spark, sf_dir, "orders")
    lab = od.select(
        (F.col("o_orderstatus") == "F").alias("y"),
        F.col("o_orderpriority").alias("f_priority"),
        F.month("o_orderdate").cast("string").alias("f_month"),
        (F.col("o_custkey") % 10).cast("string").alias("f_custmod"),
    )
    long = (
        lab.select(F.lit("priority").alias("feature"), F.col("f_priority").alias("val"), "y")
        .unionAll(
            lab.select(F.lit("month").alias("feature"), F.col("f_month").alias("val"), "y")
        )
        .unionAll(
            lab.select(
                F.lit("custmod").alias("feature"), F.col("f_custmod").alias("val"), "y"
            )
        )
    )
    # persist: the MI aggregate and the label-entropy branch both
    # consume the windowed rollup — without a cache the triple scan of
    # orders + the joint-count shuffle run twice (r10). Tiny frame:
    # |features| × |levels| × 2 rows.
    j = long.groupBy("feature", "val", "y").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    ).transform(persist_tracked)
    m = (
        j.withColumn("cx", F.sum("c").over(W.partitionBy("feature", "val")))
        .withColumn("cy", F.sum("c").over(W.partitionBy("feature", "y")))
        .withColumn("n", F.sum("c").over(W.partitionBy("feature")))
    )
    mi = m.groupBy("feature").agg(
        F.countDistinct("val").cast("bigint").alias("n_levels"),
        F.sum(
            F.col("c")
            / F.col("n")
            * F.log(F.col("c") * F.col("n") / (F.col("cx") * F.col("cy")))
        ).alias("mi_nats"),
    )
    hy = (
        m.select("feature", "y", "cy", "n")
        .distinct()
        .groupBy("feature")
        .agg((-F.sum(F.col("cy") / F.col("n") * F.log(F.col("cy") / F.col("n")))).alias("h_label"))
    )
    return mi.join(hy, "feature").select(
        "feature",
        "n_levels",
        F.round("mi_nats", 6).alias("mi_nats"),
        F.round("h_label", 6).alias("h_label"),
        F.round(F.col("mi_nats") / F.col("h_label"), 6).alias("uncertainty_coeff"),
    )


# --------------------------------------------------------------------------
# Simpson's paradox audit: pooled vs per-stratum regression slopes
# --------------------------------------------------------------------------
@query(
    "stats_simpsons",
    oracle="""
    WITH s AS (
      SELECT coalesce(l_returnflag, 'ALL') AS grp,
             CAST(count(*) AS BIGINT) AS n,
             avg(l_discount) AS mx, avg(l_quantity) AS my,
             avg(l_discount * l_quantity) AS mxy,
             avg(l_discount * l_discount) AS mxx,
             avg(l_quantity * l_quantity) AS myy
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), ())
    ),
    r AS (
      SELECT grp, n,
             (mxy - mx * my) / (mxx - mx * mx) AS slope,
             my - (mxy - mx * my) / (mxx - mx * mx) * mx AS intercept,
             (mxy - mx * my)
               / sqrt((mxx - mx * mx) * (myy - my * my)) AS corr
      FROM s
    )
    SELECT grp, n,
           round(slope, 6) AS slope,
           round(intercept, 6) AS intercept,
           round(corr, 6) AS corr,
           sign(slope) <> sign(max(CASE WHEN grp = 'ALL' THEN slope END)
                               OVER ()) AS flipped
    FROM r
    """,
)
def stats_simpsons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit of quantity ~ discount: the pooled OLS
    slope/correlation next to each return-flag stratum's, with a flag
    for strata whose slope SIGN disagrees with the pooled fit — the
    one-query check that a headline trend isn't an artifact of
    mixture weights. Pooled and per-stratum moments come from ONE
    rollup aggregation (GROUPING SETS shares the partial aggregates);
    the flip flag is a window lookup on the 4-row result. Ref:
    reference stratified-regression tests (cf. sales_elasticity)."""
    li = table(spark, sf_dir, "lineitem")
    s = li.rollup("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("l_discount").alias("mx"),
        F.avg("l_quantity").alias("my"),
        F.avg(F.col("l_discount") * F.col("l_quantity")).alias("mxy"),
        F.avg(F.col("l_discount") * F.col("l_discount")).alias("mxx"),
        F.avg(F.col("l_quantity") * F.col("l_quantity")).alias("myy"),
    ).withColumn("grp", F.coalesce(F.col("l_returnflag"), F.lit("ALL")))
    slope = (F.col("mxy") - F.col("mx") * F.col("my")) / (
        F.col("mxx") - F.col("mx") * F.col("mx")
    )
    corr = (F.col("mxy") - F.col("mx") * F.col("my")) / F.sqrt(
        (F.col("mxx") - F.col("mx") * F.col("mx"))
        * (F.col("myy") - F.col("my") * F.col("my"))
    )
    r = s.select(
        "grp",
        "n",
        slope.alias("slope"),
        (F.col("my") - slope * F.col("mx")).alias("intercept"),
        corr.alias("corr"),
    )
    pooled = F.max(F.when(F.col("grp") == "ALL", F.col("slope"))).over(
        W.partitionBy()
    )
    return r.select(
        "grp",
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("corr", 6).alias("corr"),
        (F.signum("slope") != F.signum(pooled)).alias("flipped"),
    )
