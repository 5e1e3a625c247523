"""Contract keys: ``sales_price_stickiness``,
``orders_priority_effectiveness``, ``stats_delta_method_ratio``.

Price stickiness, priority effectiveness, and
the delta-method ratio SE.

Reference parity: the reference's price-rigidity measure, its SLA
effectiveness report, and its ratio-metric inference — re-expressed
as per-part consecutive-shipment windows, ordered-priority lag
trends, and the delta-method variance closed form.

Scale notes:

- ``sales_price_stickiness``: one lag window per part over the
  shipment sequence.
- ``orders_priority_effectiveness``: priority-level lag moments +
  a Cochran-Armitage-style trend over the ordered levels.
- ``stats_delta_method_ratio``: per-unit moments in one scan; the
  delta variance var(R) ≈ (var_x − 2R·cov + R²var_y)/(n·ȳ²) is
  row-local algebra.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6


# --------------------------------------------------------------------------
# Price stickiness: do consecutive shipments reprice?
# --------------------------------------------------------------------------
@query(
    "sales_price_stickiness",
    oracle="""
    WITH s AS (
      SELECT l_partkey AS part,
             l_extendedprice / l_quantity AS unit_price,
             lag(l_extendedprice / l_quantity)
               OVER (PARTITION BY l_partkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber)
               AS prev_price
      FROM lineitem
    ),
    d AS (
      SELECT part, unit_price, prev_price,
             CASE WHEN abs(unit_price - prev_price) < 1e-9
                  THEN 1 ELSE 0 END AS same
      FROM s WHERE prev_price IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(sum(same) AS BIGINT) AS unchanged,
           round(CAST(sum(same) AS DOUBLE) / count(*), 6)
             AS stickiness,
           floor(avg(CASE WHEN same = 0
                          THEN abs(unit_price / prev_price - 1.0) END)
                 * 1000000 + 0.5) / 1000000 AS mean_abs_change_when_moved
    FROM d
    """,
)
def sales_price_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price stickiness: across each part's consecutive shipments
    (ship-date order), the share of transitions where the unit price
    did NOT move, and the mean absolute change when it did — the
    menu-cost measure (sticky prices + big jumps = repricing is
    costly; fluid prices = algorithmic pricing). One lag window per
    part over the shipment sequence; deterministic tiebreak on
    (shipdate, orderkey, linenumber). Ref: reference price-dynamics
    tests (cf. sales_price_dispersion for the cross-section,
    sales_price_index_fisher for the aggregate)."""
    li = table(spark, sf_dir, "lineitem")
    up = F.col("l_extendedprice") / F.col("l_quantity")
    wp = W.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    s = li.select(
        up.alias("unit_price"), F.lag(up).over(wp).alias("prev_price")
    ).filter(F.col("prev_price").isNotNull())
    same = F.when(
        F.abs(F.col("unit_price") - F.col("prev_price")) < 1e-9, 1
    ).otherwise(0)
    d = s.select("unit_price", "prev_price", same.alias("same"))
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.sum("same").cast("bigint").alias("unchanged"),
        F.round(F.sum("same").cast("double") / F.count(F.lit(1)), 6).alias(
            "stickiness"
        ),
        (
            F.floor(
                F.avg(
                    F.when(
                        F.col("same") == 0,
                        F.abs(F.col("unit_price") / F.col("prev_price") - 1.0),
                    )
                )
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("mean_abs_change_when_moved"),
    )


# --------------------------------------------------------------------------
# Priority effectiveness: do urgent orders actually ship faster?
# --------------------------------------------------------------------------
@query(
    "orders_priority_effectiveness",
    oracle="""
    WITH lag_d AS (
      SELECT CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS prio_rank,
             o.o_orderpriority AS priority,
             CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) AS DOUBLE) AS lag
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    g AS (
      SELECT prio_rank, priority, CAST(count(*) AS DOUBLE) AS n,
             avg(lag) AS mean_lag
      FROM lag_d GROUP BY prio_rank, priority
    ),
    trend AS (
      SELECT (sum(n * prio_rank * mean_lag)
              - sum(n * prio_rank) * sum(n * mean_lag) / sum(n))
             / (sum(n * prio_rank * prio_rank)
                - sum(n * prio_rank) * sum(n * prio_rank) / sum(n))
               AS slope
      FROM g
    )
    SELECT g.priority,
           CAST(g.n AS BIGINT) AS n_lines,
           floor(g.mean_lag * 1000000 + 0.5) / 1000000 AS mean_ship_lag_d,
           floor(trend.slope * 1000000 + 0.5) / 1000000
             AS lag_slope_per_level
    FROM g CROSS JOIN trend ORDER BY g.prio_rank
    """,
)
def orders_priority_effectiveness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Priority effectiveness: mean order→ship lag per priority
    level, with the weighted OLS slope of lag on the ORDERED level
    (1-URGENT … 5-LOW). A positive slope = the priority field
    actually buys speed; slope ≈ 0 = priority is theater (the
    expected answer here, where ship lags ignore priority — the
    null check an SLA dashboard needs before promising tiers). One
    join + level rollup + closed-form trend. Ref: reference SLA
    tests (cf. orders_ship_lag for the distribution,
    stats_cochran_armitage for the same trend logic on rates)."""
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag_d = li.join(od, li.l_orderkey == od.o_orderkey).select(
        F.substring(F.col("o_orderpriority"), 1, 1).cast("bigint").alias(
            "prio_rank"
        ),
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("double")
        .alias("lag"),
    )
    g = lag_d.groupBy("prio_rank", "priority").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("lag").alias("mean_lag"),
    )
    r = F.col("prio_rank").cast("double")
    trend = g.agg(
        (
            (
                F.sum(F.col("n") * r * F.col("mean_lag"))
                - F.sum(F.col("n") * r)
                * F.sum(F.col("n") * F.col("mean_lag"))
                / F.sum("n")
            )
            / (
                F.sum(F.col("n") * r * r)
                - F.sum(F.col("n") * r) * F.sum(F.col("n") * r) / F.sum("n")
            )
        ).alias("slope")
    )
    j = g.crossJoin(F.broadcast(trend))
    return j.select(
        "priority",
        F.col("n").cast("bigint").alias("n_lines"),
        (F.floor(F.col("mean_lag") * 1000000.0 + 0.5) / 1000000.0).alias(
            "mean_ship_lag_d"
        ),
        (F.floor(F.col("slope") * 1000000.0 + 0.5) / 1000000.0).alias(
            "lag_slope_per_level"
        ),
    ).orderBy("prio_rank").drop("prio_rank")


# --------------------------------------------------------------------------
# Delta-method SE for the revenue-per-order ratio metric
# --------------------------------------------------------------------------
@query(
    "stats_delta_method_ratio",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey AS cust,
             CAST(count(*) AS DOUBLE) AS y,
             sum(o_totalprice) AS x
      FROM orders GROUP BY cust
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(x) AS mx, avg(y) AS my,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM per_cust
    ),
    s AS (
      SELECT n, mx, my, mx / my AS r,
             (sxx - n * mx * mx) / (n - 1) AS vx,
             (syy - n * my * my) / (n - 1) AS vy,
             (sxy - n * mx * my) / (n - 1) AS cxy
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           floor(r * 10000 + 0.5) / 10000 AS revenue_per_order,
           floor(sqrt((vx - 2 * r * cxy + r * r * vy)
                      / (n * my * my)) * 10000 + 0.5) / 10000
             AS delta_se,
           floor(sqrt(vx / n) / my * 10000 + 0.5) / 10000 AS naive_se,
           floor((sqrt((vx - 2 * r * cxy + r * r * vy) / (n * my * my))
                  / (sqrt(vx / n) / my)) * 1000000 + 0.5) / 1000000
             AS se_ratio_delta_vs_naive
    FROM s
    """,
)
def stats_delta_method_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method SE for the ratio metric revenue-per-order,
    computed over per-CUSTOMER totals (the randomization unit):
    var(x̄/ȳ) ≈ (var_x − 2R·cov + R²var_y)/(nȳ²). The naive SE
    (treating the denominator as fixed) is shown beside it —
    se_ratio tells you how wrong every dashboard CI on a ratio
    metric is when it ignores denominator noise and covariance.
    One per-customer rollup + five moments. Ref: reference
    ratio-metric tests (cf. stats_cluster_se for the same unit
    issue on means, stats_fieller_ratio_ci for the exact-interval
    alternative)."""
    od = table(spark, sf_dir, "orders")
    per_cust = od.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.count(F.lit(1)).cast("double").alias("y"),
        F.sum("o_totalprice").alias("x"),
    )
    m = per_cust.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, mx, my = F.col("n"), F.col("mx"), F.col("my")
    s = m.select(
        "n",
        "mx",
        "my",
        (mx / my).alias("r"),
        ((F.col("sxx") - n * mx * mx) / (n - 1)).alias("vx"),
        ((F.col("syy") - n * my * my) / (n - 1)).alias("vy"),
        ((F.col("sxy") - n * mx * my) / (n - 1)).alias("cxy"),
    )
    r = F.col("r")
    delta_se = F.sqrt(
        (F.col("vx") - 2 * r * F.col("cxy") + r * r * F.col("vy"))
        / (F.col("n") * F.col("my") * F.col("my"))
    )
    naive_se = F.sqrt(F.col("vx") / F.col("n")) / F.col("my")
    q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
    return s.select(
        F.col("n").cast("bigint").alias("n_customers"),
        q4(r).alias("revenue_per_order"),
        q4(delta_se).alias("delta_se"),
        q4(naive_se).alias("naive_se"),
        q6(delta_se / naive_se).alias("se_ratio_delta_vs_naive"),
    )
