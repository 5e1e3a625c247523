"""Contract keys: ``stats_slope_homogeneity``, ``sales_customer_lifespan``,
``llm_bag_dedup_gap``.

Slope homogeneity, customer lifespan, and the
bag-dedup gap.

Reference parity: the reference's interaction test (do regression
slopes differ by group?), its customer-lifetime distribution, and
its order-invariant dedup level — re-expressed as per-group slope
closed forms, a first/last-order rollup, and a sorted-token-bag
hash.

Scale notes:

- ``stats_slope_homogeneity``: per-group regression moments in one
  scan; the slope contrast is k-row algebra.
- ``sales_customer_lifespan``: one per-customer min/max rollup.
- ``llm_bag_dedup_gap``: the bag fingerprint is a row-local
  sort+hash; both dedup levels come from one rollup each.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6


# --------------------------------------------------------------------------
# Slope homogeneity: does the qty~discount slope differ by flag?
# --------------------------------------------------------------------------
@query(
    "stats_slope_homogeneity",
    oracle="""
    WITH g AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS grp,
             CAST(count(*) AS DOUBLE) AS n,
             sum(l_discount) AS sx,
             sum(CAST(l_quantity AS DOUBLE)) AS sy,
             sum(l_discount * l_discount) AS sxx,
             sum(l_discount * CAST(l_quantity AS DOUBLE)) AS sxy,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE))
               AS syy
      FROM lineitem WHERE l_returnflag IN ('R', 'N')
      GROUP BY grp
    ),
    fit AS (
      SELECT grp, n,
             sxx - sx * sx / n AS sxx_c,
             (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b1,
             (syy - sy * sy / n)
               - (sxy - sx * sy / n) * (sxy - sx * sy / n)
                 / (sxx - sx * sx / n) AS sse
      FROM g
    ),
    wide AS (
      SELECT max(CASE WHEN grp = 1 THEN b1 END) AS b_r,
             max(CASE WHEN grp = 0 THEN b1 END) AS b_n,
             max(CASE WHEN grp = 1 THEN sxx_c END) AS sxx_r,
             max(CASE WHEN grp = 0 THEN sxx_c END) AS sxx_n,
             sum(sse) AS sse, sum(n) AS nn
      FROM fit
    )
    SELECT floor(b_r * 1000000 + 0.5) / 1000000 AS slope_returned,
           floor(b_n * 1000000 + 0.5) / 1000000 AS slope_kept,
           floor((b_r - b_n) * 1000000 + 0.5) / 1000000 AS slope_diff,
           floor((b_r - b_n)
                 / sqrt(sse / (nn - 4) * (1.0 / sxx_r + 1.0 / sxx_n))
                 * 10000 + 0.5) / 10000 AS slope_t,
           CAST(nn - 4 AS BIGINT) AS df
    FROM wide
    """,
)
def stats_slope_homogeneity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slope-homogeneity (interaction) test: does the
    quantity~discount slope differ between returned and kept lines?
    t = (b₁−b₀)/√(s²(1/Sxx₁+1/Sxx₀)) with the pooled residual s²
    from both separate fits — the test that must PASS before
    stats_ancova_lite's common-slope adjustment is legitimate
    (ANCOVA with heterogeneous slopes adjusts to a fiction). One
    moment scan per group, closed forms after. Ref: reference
    interaction tests (cf. stats_ancova_lite, stats_chow_test for
    the time-split analogue)."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "N")
    )
    x = F.col("l_discount")
    y = F.col("l_quantity").cast("double")
    g = li.groupBy(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("grp")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
    )
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    sxy_c = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    syy_c = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    fit = g.select(
        "grp",
        "n",
        sxx_c.alias("sxx_c"),
        (sxy_c / sxx_c).alias("b1"),
        (syy_c - sxy_c * sxy_c / sxx_c).alias("sse"),
    )
    wide = fit.agg(
        F.max(F.when(F.col("grp") == 1, F.col("b1"))).alias("b_r"),
        F.max(F.when(F.col("grp") == 0, F.col("b1"))).alias("b_n"),
        F.max(F.when(F.col("grp") == 1, F.col("sxx_c"))).alias("sxx_r"),
        F.max(F.when(F.col("grp") == 0, F.col("sxx_c"))).alias("sxx_n"),
        F.sum("sse").alias("sse"),
        F.sum("n").alias("nn"),
    )
    q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
    tstat = (F.col("b_r") - F.col("b_n")) / F.sqrt(
        F.col("sse")
        / (F.col("nn") - 4)
        * (1.0 / F.col("sxx_r") + 1.0 / F.col("sxx_n"))
    )
    return wide.select(
        q6(F.col("b_r")).alias("slope_returned"),
        q6(F.col("b_n")).alias("slope_kept"),
        q6(F.col("b_r") - F.col("b_n")).alias("slope_diff"),
        q4(tstat).alias("slope_t"),
        (F.col("nn") - 4).cast("bigint").alias("df"),
    )


# --------------------------------------------------------------------------
# Customer lifespan: active span between first and last order
# --------------------------------------------------------------------------
@query(
    "sales_customer_lifespan",
    oracle="""
    WITH c AS (
      SELECT o_custkey AS cust,
             CAST(count(*) AS BIGINT) AS n_orders,
             date_diff('day', min(CAST(o_orderdate AS DATE)),
                       max(CAST(o_orderdate AS DATE))) AS span_d
      FROM orders GROUP BY cust
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN n_orders = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS one_timers,
           round(CAST(sum(CASE WHEN n_orders = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS one_timer_share,
           floor(avg(CASE WHEN n_orders > 1
                          THEN CAST(span_d AS DOUBLE) END)
                 * 10000 + 0.5) / 10000 AS mean_active_span_d,
           CAST(max(span_d) AS BIGINT) AS max_span_d
    FROM c
    """,
)
def sales_customer_lifespan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifespan distribution: share of one-order customers
    (the leaky-bucket number) and the mean/max active span (first →
    last order) among repeaters. A high one-timer share reframes
    every retention initiative; the mean span sets the horizon any
    LTV model may extrapolate to. One per-customer min/max rollup.
    Ref: reference lifetime tests (cf. cohort_ltv for the money
    curve, events_retention_halflife for the decay rate)."""
    od = table(spark, sf_dir, "orders")
    c = od.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")),
            F.min(F.col("o_orderdate").cast("date")),
        ).alias("span_d"),
    )
    return c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.when(F.col("n_orders") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("one_timers"),
        F.round(
            F.sum(F.when(F.col("n_orders") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("one_timer_share"),
        (
            F.floor(
                F.avg(
                    F.when(
                        F.col("n_orders") > 1, F.col("span_d").cast("double")
                    )
                )
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("mean_active_span_d"),
        F.max("span_d").cast("bigint").alias("max_span_d"),
    )


# --------------------------------------------------------------------------
# Bag-dedup gap: same tokens, different order
# --------------------------------------------------------------------------
@query(
    "llm_bag_dedup_gap",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             md5(text) AS exact_h,
             md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
               AS bag_h
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT exact_h) AS BIGINT) AS distinct_exact,
           CAST(count(DISTINCT bag_h) AS BIGINT) AS distinct_bag,
           CAST(count(DISTINCT exact_h) - count(DISTINCT bag_h) AS BIGINT)
             AS reordered_dups,
           round(CAST(count(DISTINCT exact_h) - count(DISTINCT bag_h)
                      AS DOUBLE) / count(DISTINCT exact_h), 6)
             AS reorder_dup_share
    FROM h
    """,
)
def llm_bag_dedup_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-dedup gap: distinct documents under EXACT hashing vs
    under the SORTED-token-bag fingerprint. The difference counts
    texts that are the same multiset of words in a different order —
    invisible to exact dedup, perfect 1.0 to Jaccard, and the case
    ROUGE-L (order-aware) disagrees with both on. The gap sizes how
    much a bag-level dedup pass would add on THIS corpus before
    anyone pays for minhash. Row-local sort+hash, two distinct
    counts. Ref: reference dedup-ladder tests (cf. llm_dedup_casefold
    for the normalization ladder — this is the ORDER rung)."""
    docs = table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        F.md5("text").alias("exact_h"),
        F.md5(
            F.concat_ws(" ", F.array_sort(F.split(F.col("text"), " ")))
        ).alias("bag_h"),
    )
    return h.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_distinct("exact_h").cast("bigint").alias("distinct_exact"),
        F.count_distinct("bag_h").cast("bigint").alias("distinct_bag"),
        (F.count_distinct("exact_h") - F.count_distinct("bag_h"))
        .cast("bigint")
        .alias("reordered_dups"),
        F.round(
            (
                F.count_distinct("exact_h") - F.count_distinct("bag_h")
            ).cast("double")
            / F.count_distinct("exact_h"),
            6,
        ).alias("reorder_dup_share"),
    )
