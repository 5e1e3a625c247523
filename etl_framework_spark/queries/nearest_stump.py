"""Contract keys: ``join_nearest_value``, ``feat_best_split``,
``stats_cohens_kappa``.

Nearest-value join, decision-stump split search,
and inter-rater agreement.

Reference parity: the reference's nearest-match join operator, its
split-point scorer, and its agreement statistics — re-expressed as a
sort-merge neighbor pick (no cross join), a threshold-explode
aggregation, and a one-pass confusion matrix.

Scale notes:

- ``join_nearest_value``: the naive nearest-neighbor join is a
  per-row argmin over the full other side (O(n·m)); the Spark plan
  UNIONS both sides into one per-nation sorted stream and reads the
  nearest-below / nearest-above candidates with two IGNORE NULLS
  window passes — O((n+m) log(n+m)) total, partitioned by nation,
  no cross join anywhere. The oracle keeps the naive argmin.
- ``feat_best_split``: 9 candidate thresholds explode the fact rows
  9x into ONE aggregation — a single shuffle scores every split;
  label counts are integers so the Gini arithmetic is deterministic.
- ``stats_cohens_kappa``: the whole 2x2 confusion matrix is one
  conditional aggregation; kappa is a scalar closed form on it.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_BIG_ORDER = 150000.0  # rater A threshold for kappa


# --------------------------------------------------------------------------
# Nearest-value join: closest supplier balance per customer, by nation
# --------------------------------------------------------------------------
@query(
    "join_nearest_value",
    oracle="""
    WITH ranked AS (
      SELECT c.c_custkey, c.c_nationkey, c.c_acctbal,
             s.s_suppkey, s.s_acctbal,
             row_number() OVER (
               PARTITION BY c.c_custkey
               ORDER BY abs(s.s_acctbal - c.c_acctbal), s.s_acctbal,
                        s.s_suppkey) AS rk
      FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
    )
    SELECT c_custkey, c_nationkey, s_suppkey,
           round(c_acctbal, 2) AS c_acctbal,
           round(s_acctbal, 2) AS s_acctbal,
           round(abs(s_acctbal - c_acctbal), 2) AS bal_gap
    FROM ranked WHERE rk = 1
    """,
)
def join_nearest_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every customer, the same-nation supplier with the NEAREST
    account balance (ties → lower balance, then lower suppkey) — the
    numeric twin of an as-of join. The oracle is the naive per-row
    argmin; the Spark plan is the sort-merge pattern that survives
    scale: union both sides into one per-nation stream sorted by
    (balance, side, key), take the nearest supplier at-or-below via
    last_value IGNORE NULLS and the nearest strictly-above via the
    reversed window, then pick the closer (tie → the below one, which
    is exactly the oracle's comparator). Two window passes over
    (n+m) rows per nation — no cross join. Ref: reference
    nearest-match join tests (cf. join_asof)."""
    cu = table(spark, sf_dir, "customer")
    su = table(spark, sf_dir, "supplier")
    # one stream: suppliers sort BEFORE an equal-balance customer
    # (kind 0 < 1) so an exact match is visible as "at-or-below";
    # equal-balance suppliers sort by suppkey DESC so last_value
    # picks the MIN suppkey of the run (oracle tie-break).
    s_side = su.select(
        F.col("s_nationkey").alias("nk"),
        F.col("s_acctbal").alias("bal"),
        F.lit(0).alias("kind"),
        F.col("s_suppkey").alias("skey"),
        F.lit(None).cast("bigint").alias("ckey"),
    )
    c_side = cu.select(
        F.col("c_nationkey").cast("int").alias("nk"),
        F.col("c_acctbal").alias("bal"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("bigint").alias("skey"),
        F.col("c_custkey").alias("ckey"),
    )
    stream = s_side.unionAll(c_side).withColumn(
        "sup",
        F.when(
            F.col("kind") == 0, F.struct(F.col("bal").alias("b"), F.col("skey").alias("k"))
        ),
    )
    w_up = (
        W.partitionBy("nk")
        .orderBy(F.col("bal").asc(), F.col("kind").asc(), F.col("skey").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_dn = (
        W.partitionBy("nk")
        .orderBy(F.col("bal").desc(), F.col("kind").desc(), F.col("skey").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cand = (
        stream.withColumn("below", F.last("sup", ignorenulls=True).over(w_up))
        .withColumn("above", F.last("sup", ignorenulls=True).over(w_dn))
        .filter(F.col("kind") == 1)
    )
    d_below = F.abs(F.col("below.b") - F.col("bal"))
    d_above = F.abs(F.col("above.b") - F.col("bal"))
    best = F.when(
        F.col("below").isNull(), F.col("above")
    ).when(
        F.col("above").isNull(), F.col("below")
    ).when(d_above < d_below, F.col("above")).otherwise(F.col("below"))
    # a nation with zero suppliers yields no candidate — the oracle's
    # inner join drops those customers, so drop them here too
    cand = cand.filter(F.col("below").isNotNull() | F.col("above").isNotNull())
    return cand.select(
        F.col("ckey").alias("c_custkey"),
        F.col("nk").alias("c_nationkey"),
        best["k"].alias("s_suppkey"),
        F.round("bal", 2).alias("c_acctbal"),
        F.round(best["b"], 2).alias("s_acctbal"),
        F.round(F.abs(best["b"] - F.col("bal")), 2).alias("bal_gap"),
    )


# --------------------------------------------------------------------------
# Decision-stump split search: best Gini threshold on order price
# --------------------------------------------------------------------------
@query(
    "feat_best_split",
    oracle="""
    WITH qs AS (
      SELECT quantile_cont(o_totalprice,
               [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS q
      FROM orders
    ),
    th AS (SELECT round(i / 10.0, 1) AS p, q[i] AS thr
           FROM qs, generate_series(1, 9) g(i)),
    sc AS (
      SELECT p, thr,
             CAST(count(*) FILTER (o_totalprice <= thr) AS DOUBLE) AS nl,
             CAST(count(*) FILTER (o_totalprice <= thr
                                   AND o_orderstatus = 'F') AS DOUBLE) AS xl,
             CAST(count(*) FILTER (o_totalprice > thr) AS DOUBLE) AS nr,
             CAST(count(*) FILTER (o_totalprice > thr
                                   AND o_orderstatus = 'F') AS DOUBLE) AS xr
      FROM orders CROSS JOIN th GROUP BY p, thr
    ),
    g AS (
      SELECT p, thr, nl, nr,
             (nl * (1 - (xl / nl) * (xl / nl)
                      - (1 - xl / nl) * (1 - xl / nl))
              + nr * (1 - (xr / nr) * (xr / nr)
                        - (1 - xr / nr) * (1 - xr / nr)))
             / (nl + nr) AS gini
      FROM sc
    )
    SELECT p, round(thr, 6) AS threshold,
           CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
           round(gini, 6) AS weighted_gini,
           gini = min(gini) OVER () AS is_best
    FROM g
    """,
)
def feat_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump threshold search: score the 9 price deciles as
    split points for predicting finalized order status by weighted
    Gini impurity, and flag the best. The fact table explodes 9x
    against the broadcast threshold list into ONE conditional
    aggregation (a single shuffle scores every candidate); label
    counts are integers, so the impurity arithmetic is deterministic
    on both engines. The CART inner loop as a query. Ref: reference
    split-scorer tests (cf. feat_infogain for the categorical
    twin)."""
    od = table(spark, sf_dir, "orders")
    ps = F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
    qs = od.agg(F.percentile("o_totalprice", ps).alias("q"))
    th = qs.select(F.posexplode("q").alias("pos", "thr")).select(
        F.round((F.col("pos") + 1) / 10.0, 1).alias("p"), "thr"
    )
    sc = (
        od.crossJoin(F.broadcast(th))
        .groupBy("p", "thr")
        .agg(
            F.count(F.when(F.col("o_totalprice") <= F.col("thr"), 1))
            .cast("double")
            .alias("nl"),
            F.count(
                F.when(
                    (F.col("o_totalprice") <= F.col("thr"))
                    & (F.col("o_orderstatus") == "F"),
                    1,
                )
            )
            .cast("double")
            .alias("xl"),
            F.count(F.when(F.col("o_totalprice") > F.col("thr"), 1))
            .cast("double")
            .alias("nr"),
            F.count(
                F.when(
                    (F.col("o_totalprice") > F.col("thr"))
                    & (F.col("o_orderstatus") == "F"),
                    1,
                )
            )
            .cast("double")
            .alias("xr"),
        )
    )
    pl, pr = F.col("xl") / F.col("nl"), F.col("xr") / F.col("nr")
    gini = (
        F.col("nl") * (1 - pl * pl - (1 - pl) * (1 - pl))
        + F.col("nr") * (1 - pr * pr - (1 - pr) * (1 - pr))
    ) / (F.col("nl") + F.col("nr"))
    g = sc.select("p", "thr", "nl", "nr", gini.alias("gini"))
    return g.select(
        "p",
        F.round("thr", 6).alias("threshold"),
        F.col("nl").cast("bigint").alias("n_left"),
        F.col("nr").cast("bigint").alias("n_right"),
        F.round("gini", 6).alias("weighted_gini"),
        (F.col("gini") == F.min("gini").over(W.partitionBy())).alias("is_best"),
    )


# --------------------------------------------------------------------------
# Cohen's kappa between two order classifiers
# --------------------------------------------------------------------------
@query(
    "stats_cohens_kappa",
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
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
           CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
           round((n11 + n00) / n, 6) AS p_observed,
           round(((n11 + n10) / n) * ((n11 + n01) / n)
                 + ((n01 + n00) / n) * ((n10 + n00) / n), 6) AS p_expected,
           round(((n11 + n00) / n
                  - (((n11 + n10) / n) * ((n11 + n01) / n)
                     + ((n01 + n00) / n) * ((n10 + n00) / n)))
                 / (1 - (((n11 + n10) / n) * ((n11 + n01) / n)
                         + ((n01 + n00) / n) * ((n10 + n00) / n))), 6)
             AS kappa
    FROM m
    """,
)
def stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between two independent 'raters' of
    order size — a price rule (totalprice > 150k) and a priority rule
    (urgent/high) — correcting raw agreement for the agreement both
    rules would reach by chance: κ = (p_o − p_e)/(1 − p_e). The whole
    2x2 confusion matrix is ONE conditional aggregation; kappa is a
    scalar closed form repeated identically on both engines (no
    intermediate aliasing, so the op order matches). Ref: reference
    agreement-statistics tests (cf. stats_cramers_v)."""
    od = table(spark, sf_dir, "orders")
    a = F.col("o_totalprice") > _BIG_ORDER
    b = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    m = od.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.when(a & b, 1)).cast("double").alias("n11"),
        F.count(F.when(a & ~b, 1)).cast("double").alias("n10"),
        F.count(F.when(~a & b, 1)).cast("double").alias("n01"),
        F.count(F.when(~a & ~b, 1)).cast("double").alias("n00"),
    )
    n, n11, n10, n01, n00 = (
        F.col("n"),
        F.col("n11"),
        F.col("n10"),
        F.col("n01"),
        F.col("n00"),
    )
    pe = ((n11 + n10) / n) * ((n11 + n01) / n) + ((n01 + n00) / n) * (
        (n10 + n00) / n
    )
    return m.select(
        n.cast("bigint").alias("n"),
        n11.cast("bigint").alias("n11"),
        n10.cast("bigint").alias("n10"),
        n01.cast("bigint").alias("n01"),
        n00.cast("bigint").alias("n00"),
        F.round((n11 + n00) / n, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round(((n11 + n00) / n - pe) / (1 - pe), 6).alias("kappa"),
    )
