"""Contract keys: ``events_funnel_ab``, ``shard_range_splits``,
``sales_customer_tiers``.

A/B funnel comparison, range-shard split
points, and customer revenue tiers.

Reference parity: the reference's per-arm funnel report, its
range-partitioner planner, and its customer tiering table —
re-expressed as per-arm step conversions with two-proportion z, an
exact rank-based split-point computation, and decile tiers with
revenue shares.

Scale notes:

- ``events_funnel_ab``: per-user step flags roll up once; per-arm
  step rates + the two-proportion z are k-row algebra.
- ``shard_range_splits``: split keys come from exact ranks over the
  |orders| key rollup; balance is a conditional count per shard.
- ``sales_customer_tiers``: deterministic decile by (revenue,
  custkey) total order, then tier rollup.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_SHARDS = 8


# --------------------------------------------------------------------------
# Funnel by experiment arm: view -> click -> purchase
# --------------------------------------------------------------------------
@query(
    "events_funnel_ab",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t
      FROM events
    ),
    t1 AS (
      SELECT user_id, min(t) AS tv FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.t) AS tc
      FROM e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.t > t1.tv
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.t) AS tp
      FROM e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.t > t2.tc
      GROUP BY e.user_id
    ),
    u AS (
      SELECT d.user_id,
             CAST(CASE WHEN ((d.user_id % 1000000007) * 2654435761) % 4294967296
                            >= 2147483648 THEN 1 ELSE 0 END AS BIGINT)
               AS arm,
             CASE WHEN t1.user_id IS NOT NULL THEN 1 ELSE 0 END AS s1,
             CASE WHEN t2.user_id IS NOT NULL THEN 1 ELSE 0 END AS s2,
             CASE WHEN t3.user_id IS NOT NULL THEN 1 ELSE 0 END AS s3
      FROM (SELECT DISTINCT user_id FROM e) d
      LEFT JOIN t1 ON d.user_id = t1.user_id
      LEFT JOIN t2 ON d.user_id = t2.user_id
      LEFT JOIN t3 ON d.user_id = t3.user_id
    ),
    f AS (
      SELECT arm, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(s1) AS DOUBLE) AS v,
             CAST(sum(s2) AS DOUBLE) AS vc,
             CAST(sum(s3) AS DOUBLE) AS vcp
      FROM u GROUP BY arm
    ),
    wide AS (
      SELECT max(CASE WHEN arm = 1 THEN n END) AS n1,
             max(CASE WHEN arm = 1 THEN vcp / n END) AS r1,
             max(CASE WHEN arm = 0 THEN n END) AS n0,
             max(CASE WHEN arm = 0 THEN vcp / n END) AS r0
      FROM f
    )
    SELECT f.arm, CAST(f.n AS BIGINT) AS n_users,
           round(f.v / f.n, 6) AS rate_view,
           round(f.vc / f.n, 6) AS rate_view_then_click,
           round(f.vcp / f.n, 6) AS rate_full_funnel,
           CASE WHEN w.r1 * (1 - w.r1) + w.r0 * (1 - w.r0) > 0
                THEN round((w.r1 - w.r0)
                           / sqrt((w.r1 * (1 - w.r1)) / w.n1
                                  + (w.r0 * (1 - w.r0)) / w.n0), 4)
           END AS funnel_z
    FROM f CROSS JOIN wide w ORDER BY f.arm
    """,
)
def events_funnel_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-arm funnel report on the hash A/A split: each arm's
    view → view+click → full-funnel user rates, plus the
    two-proportion z on the end-to-end rate. The experiment readout
    that localizes WHERE an arm wins (top-of-funnel reach vs
    conversion deeper down); on this A/A split the z must be noise
    — the null check before any real experiment reuses the query.
    One per-user rollup, k-row algebra after. Ref: reference
    experiment-funnel tests (cf. funnel for the global version,
    events_ab_test for the value metric)."""
    ev = table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_type",
        F.unix_timestamp(F.date_trunc("second", F.col("ts")))
        .cast("bigint")
        .alias("t"),
    )
    t1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("tv"))
    )
    t2 = (
        e.join(t1, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("t") > F.col("tv")))
        .groupBy("user_id")
        .agg(F.min("t").alias("tc"))
    )
    t3 = (
        e.join(t2, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("t") > F.col("tc"))
        )
        .groupBy("user_id")
        .agg(F.min("t").alias("tp"))
    )
    d = e.select("user_id").distinct()
    u = (
        d.join(t1, "user_id", "left")
        .join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            (
                (((F.col("user_id") % 1000000007) * 2654435761) % 4294967296 >= 2147483648)
                .cast("bigint")
            ).alias("arm"),
            F.when(F.col("tv").isNotNull(), 1).otherwise(0).alias("s1"),
            F.when(F.col("tc").isNotNull(), 1).otherwise(0).alias("s2"),
            F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("s3"),
        )
    )
    f = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("s1").cast("double").alias("v"),
        F.sum("s2").cast("double").alias("vc"),
        F.sum("s3").cast("double").alias("vcp"),
    )
    wide = f.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("vcp") / F.col("n"))).alias("r1"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("vcp") / F.col("n"))).alias("r0"),
    )
    j = f.crossJoin(F.broadcast(wide))
    var_sum = F.col("r1") * (1 - F.col("r1")) + F.col("r0") * (1 - F.col("r0"))
    z = (F.col("r1") - F.col("r0")) / F.sqrt(
        F.col("r1") * (1 - F.col("r1")) / F.col("n1")
        + F.col("r0") * (1 - F.col("r0")) / F.col("n0")
    )
    return j.select(
        "arm",
        F.col("n").cast("bigint").alias("n_users"),
        F.round(F.col("v") / F.col("n"), 6).alias("rate_view"),
        F.round(F.col("vc") / F.col("n"), 6).alias("rate_view_then_click"),
        F.round(F.col("vcp") / F.col("n"), 6).alias("rate_full_funnel"),
        F.when(var_sum > 0, F.round(z, 4)).alias("funnel_z"),
    ).orderBy("arm")


# --------------------------------------------------------------------------
# Range-partitioner planning: exact split points for 8 shards
# --------------------------------------------------------------------------
@query(
    "shard_range_splits",
    oracle=f"""
    WITH k AS (
      SELECT o_orderkey AS key,
             row_number() OVER (ORDER BY o_orderkey) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM orders
    ),
    splits AS (
      SELECT CAST(s.s AS BIGINT) AS shard_id,
             max(CASE WHEN rk * {_SHARDS} <= s.s * n THEN key END)
               AS upper_key
      FROM k CROSS JOIN
           (SELECT unnest(generate_series(1, {_SHARDS - 1})) AS s) s
      GROUP BY s.s
    ),
    counts AS (
      SELECT s.s AS shard_id,
             CAST(count(CASE WHEN k.rk * {_SHARDS} <= s.s * k.n
                              AND k.rk * {_SHARDS} > (s.s - 1) * k.n
                             THEN 1 END) AS BIGINT) AS shard_rows
      FROM k CROSS JOIN
           (SELECT unnest(generate_series(1, {_SHARDS})) AS s) s
      GROUP BY s.s
    )
    SELECT c.shard_id, c.shard_rows,
           sp.upper_key
    FROM counts c LEFT JOIN splits sp ON c.shard_id = sp.shard_id
    ORDER BY c.shard_id
    """,
)
def shard_range_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioner planning: EXACT split keys that cut the
    order-key space into 8 equal-count shards (the last shard has no
    upper bound), with each shard's achieved row count. This is what
    a range-sharded sink or a sorted bulk-load needs precomputed —
    and unlike sampled RangePartitioner estimates, these splits are
    exact, so shard skew is provably ±1 row. One rank window over
    the key rollup; shard membership is rank arithmetic, not a
    second scan per shard. Ref: reference partition-planning tests
    (cf. shard_rendezvous for hash placement, topk_two_phase for
    the sorted-read consumer)."""
    od = table(spark, sf_dir, "orders")
    k = od.select(F.col("o_orderkey").alias("key")).select(
        "key",
        F.row_number().over(W.orderBy("key")).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).cast("bigint").alias("n"),
    )
    sh = spark.range(1, _SHARDS + 1).select(F.col("id").alias("shard_id"))
    jc = k.crossJoin(F.broadcast(sh))
    counts = jc.groupBy("shard_id").agg(
        F.count(
            F.when(
                (F.col("rk") * _SHARDS <= F.col("shard_id") * F.col("n"))
                & (F.col("rk") * _SHARDS > (F.col("shard_id") - 1) * F.col("n")),
                1,
            )
        )
        .cast("bigint")
        .alias("shard_rows")
    )
    splits = (
        jc.filter(F.col("shard_id") < _SHARDS)
        .groupBy("shard_id")
        .agg(
            F.max(
                F.when(
                    F.col("rk") * _SHARDS <= F.col("shard_id") * F.col("n"),
                    F.col("key"),
                )
            ).alias("upper_key")
        )
    )
    return (
        counts.join(splits, "shard_id", "left")
        .select("shard_id", "shard_rows", "upper_key")
        .orderBy("shard_id")
    )


# --------------------------------------------------------------------------
# Customer revenue tiers: deterministic deciles with revenue share
# --------------------------------------------------------------------------
@query(
    "sales_customer_tiers",
    oracle="""
    WITH c AS (
      SELECT o_custkey AS cust, sum(o_totalprice) AS rev
      FROM orders GROUP BY cust
    ),
    r AS (
      SELECT rev,
             row_number() OVER (ORDER BY rev DESC, cust) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n,
             sum(rev) OVER () AS tot
      FROM c
    ),
    t AS (
      SELECT ((rk - 1) * 10) // n AS tier, rev, tot FROM r
    )
    SELECT tier,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(rev), 2) AS tier_revenue,
           round(sum(rev) / max(tot), 6) AS revenue_share
    FROM t GROUP BY tier ORDER BY tier
    """,
)
def sales_customer_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue tiering: customers ranked by total revenue
    (total order via (rev desc, custkey) — no ntile tie hazard) into
    deciles, with each tier's customer count, revenue, and share.
    Tier 0's share IS the whale-dependence number the board asks
    for; the share decay across tiers is the Lorenz curve in table
    form. One customer rollup + one rank window + one tier rollup.
    Ref: reference tiering tests (cf. sales_pareto for the 80/20
    cut, events_lorenz_deciles for the event analogue)."""
    od = table(spark, sf_dir, "orders")
    c = od.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    r = c.select(
        "rev",
        F.row_number().over(W.orderBy(F.desc("rev"), "cust")).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).cast("bigint").alias("n"),
        F.sum("rev").over(W.partitionBy()).alias("tot"),
    )
    t = r.select(
        F.floor(((F.col("rk") - 1) * 10) / F.col("n")).cast("bigint").alias(
            "tier"
        ),
        "rev",
        "tot",
    )
    return (
        t.groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.sum("rev"), 2).alias("tier_revenue"),
            F.round(F.sum("rev") / F.max("tot"), 6).alias("revenue_share"),
        )
        .orderBy("tier")
    )
