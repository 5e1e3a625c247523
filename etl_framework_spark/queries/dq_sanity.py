"""Contract keys: ``dq_single_source_parts``, ``dq_temporal_sanity``,
``orders_perfect_order``.

Supply-chain risk and order-integrity audits —
dual-sourcing histogram, temporal sanity checks, perfect-order rate.

Reference parity: the reference's supply-chain DQ suite — sourcing
concentration, impossible-date detection, and the composite
fulfillment KPI — re-expressed as count-only rollups (every result
is integer arithmetic, bit-exact by construction).

Scale notes:

- ``dq_single_source_parts``: distinct suppliers per part is one
  groupBy over (partkey, suppkey) pairs; the histogram is a second
  rollup over |parts| rows — no join at all.
- ``dq_temporal_sanity``: all six violation predicates evaluate in
  ONE scan (conditional sums), the only join is orderdate lookup,
  shuffled once on the order key.
- ``orders_perfect_order``: per-order all-lines-on-time collapses
  via min(bool) before the priority rollup — the fact table never
  reaches the second aggregation.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# Dual-sourcing risk: how many suppliers does each part really ship from?
# --------------------------------------------------------------------------
@query(
    "dq_single_source_parts",
    oracle="""
    WITH ps AS (
      SELECT l_partkey AS pk,
             CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
      FROM lineitem GROUP BY pk
    ),
    h AS (
      SELECT CASE WHEN n_supp = 1 THEN 1 WHEN n_supp <= 5 THEN 5
                  WHEN n_supp <= 10 THEN 10 WHEN n_supp <= 20 THEN 20
                  WHEN n_supp <= 30 THEN 30 ELSE 99 END AS supp_bucket,
             CAST(count(*) AS BIGINT) AS n_parts,
             round(avg(CAST(n_supp AS DOUBLE)), 6) AS avg_suppliers,
             CAST(min(n_supp) AS BIGINT) AS min_suppliers,
             CAST(max(n_supp) AS BIGINT) AS max_suppliers
      FROM ps GROUP BY supp_bucket
    ),
    t AS (SELECT sum(n_parts) AS total FROM h)
    SELECT h.supp_bucket, h.n_parts, h.avg_suppliers,
           h.min_suppliers, h.max_suppliers,
           round(CAST(h.n_parts AS DOUBLE) / t.total, 6) AS part_share
    FROM h CROSS JOIN t ORDER BY h.supp_bucket
    """,
)
def dq_single_source_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sourcing-concentration histogram: for every part that ever
    shipped, how many DISTINCT suppliers it shipped from — bucketed
    (1 / ≤5 / ≤10 / ≤20 / ≤30 / 31+) with per-bucket avg/min/max
    and part shares. The low buckets are the single-source risk
    list (one supplier outage stops the part); the histogram is the
    procurement resilience summary. Pure two-level rollup of
    (partkey, suppkey) — no join, integer-exact, and at 100 TB the
    second rollup input is |parts|, not |lineitem|. Ref: reference
    sourcing-risk tests (cf. supplier_hhi for the revenue-share
    view)."""
    li = table(spark, sf_dir, "lineitem")
    ps = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count_distinct(F.col("l_suppkey")).cast("bigint").alias("n_supp")
    )
    ns = F.col("n_supp")
    h = ps.groupBy(
        F.when(ns == 1, 1)
        .when(ns <= 5, 5)
        .when(ns <= 10, 10)
        .when(ns <= 20, 20)
        .when(ns <= 30, 30)
        .otherwise(99)
        .alias("supp_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.round(F.avg(ns.cast("double")), 6).alias("avg_suppliers"),
        F.min(ns).cast("bigint").alias("min_suppliers"),
        F.max(ns).cast("bigint").alias("max_suppliers"),
        # lazy localCheckpoint: the 6-row histogram feeds the total agg
        # AND the share projection — unmaterialized, both replayed the
        # two-level lineitem rollup.
    ).localCheckpoint(eager=False)
    t = h.agg(F.sum("n_parts").alias("total"))
    return (
        h.crossJoin(F.broadcast(t))
        .select(
            "supp_bucket",
            "n_parts",
            "avg_suppliers",
            "min_suppliers",
            "max_suppliers",
            F.round(F.col("n_parts").cast("double") / F.col("total"), 6).alias(
                "part_share"
            ),
        )
        .orderBy("supp_bucket")
    )


# --------------------------------------------------------------------------
# Temporal sanity: impossible / suspicious date orderings in one scan
# --------------------------------------------------------------------------
@query(
    "dq_temporal_sanity",
    oracle="""
    WITH per_order AS (
      SELECT l.l_orderkey AS ok,
             min(o.o_orderdate) AS odate,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN l.l_shipdate < o.o_orderdate
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_lines,
             CAST(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                          CAST(l.l_shipdate AS DATE)) > 180
                           THEN 1 ELSE 0 END) AS BIGINT) AS slow_lines,
             date_diff('day', CAST(min(l.l_shipdate) AS DATE),
                       CAST(max(l.l_shipdate) AS DATE)) AS ship_span_d
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY ok
    )
    SELECT CAST(sum(n_lines) AS BIGINT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(bad_lines) AS BIGINT) AS ship_before_order_lines,
           CAST(sum(slow_lines) AS BIGINT) AS ship_lag_over_180d_lines,
           CAST(sum(CASE WHEN ship_span_d > 120 THEN 1 ELSE 0 END) AS BIGINT)
             AS orders_span_over_120d,
           round(CAST(sum(bad_lines) AS DOUBLE) / sum(n_lines), 9)
             AS hard_violation_rate,
           round(avg(CAST(ship_span_d AS DOUBLE)), 6) AS avg_ship_span_d
    FROM per_order
    """,
)
def dq_temporal_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-integrity audit of the fulfillment timeline:
    ship-before-order lines (hard impossibility → corrupted
    ingestion), >180-day ship lags (soft outliers), and per-order
    ship SPAN — orders whose first and last line ship >120 days
    apart are straggler fulfillments that inflate delivery SLAs.
    One join + one per-order rollup + one global conditional sum;
    the 'assert the arrow of time' DQ gate. Ref: reference DQ-rule
    tests (cf. dq_check, dq_order_lineitem_reconcile)."""
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(od, li.l_orderkey == od.o_orderkey)
    per_order = j.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.min("o_orderdate").alias("odate"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0))
        .cast("bigint")
        .alias("bad_lines"),
        F.sum(
            F.when(
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
                > 180,
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("slow_lines"),
        F.datediff(
            F.max(F.col("l_shipdate")).cast("date"),
            F.min(F.col("l_shipdate")).cast("date"),
        ).alias("ship_span_d"),
    )
    return per_order.agg(
        F.sum("n_lines").cast("bigint").alias("n_lines"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("bad_lines").cast("bigint").alias("ship_before_order_lines"),
        F.sum("slow_lines").cast("bigint").alias("ship_lag_over_180d_lines"),
        F.sum(F.when(F.col("ship_span_d") > 120, 1).otherwise(0))
        .cast("bigint")
        .alias("orders_span_over_120d"),
        F.round(
            F.sum("bad_lines").cast("double") / F.sum("n_lines"), 9
        ).alias("hard_violation_rate"),
        F.round(F.avg(F.col("ship_span_d").cast("double")), 6).alias(
            "avg_ship_span_d"
        ),
    )


# --------------------------------------------------------------------------
# Perfect-order rate: all lines shipped by commit date, per priority
# --------------------------------------------------------------------------
_SLA_D = 90  # every line must ship within 90 days of the order date


@query(
    "orders_perfect_order",
    oracle=f"""
    WITH per_order AS (
      SELECT l.l_orderkey AS ok, o.o_orderpriority AS priority,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN date_diff('day',
                                          CAST(o.o_orderdate AS DATE),
                                          CAST(l.l_shipdate AS DATE))
                                <= {_SLA_D}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time,
             min(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                     CAST(l.l_shipdate AS DATE)) <= {_SLA_D}
                      THEN 1 ELSE 0 END) AS all_on_time
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY ok, priority
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(avg(CAST(all_on_time AS DOUBLE)), 6) AS perfect_order_rate,
           round(CAST(sum(n_on_time) AS DOUBLE) / sum(n_lines), 6)
             AS line_fill_rate
    FROM per_order GROUP BY priority ORDER BY priority
    """,
)
def orders_perfect_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perfect-order rate per order priority under a 90-day ship
    SLA: the share of orders where EVERY line made the SLA (min over
    line booleans — one late line kills the order), next to the
    softer line-level fill rate. The gap between the two is the KPI
    story: line fill can look fine while multi-line orders still
    disappoint. Fact rows collapse per-order BEFORE the priority
    rollup, so the second stage is |orders|-sized. Ref: reference
    fulfillment-KPI tests (cf. orders_promise_attainment,
    orders_ship_lag)."""
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    on_time = F.when(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        <= _SLA_D,
        1,
    ).otherwise(0)
    per_order = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy(
            F.col("l_orderkey").alias("ok"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(on_time).cast("bigint").alias("n_on_time"),
            F.min(on_time).alias("all_on_time"),
        )
    )
    return (
        per_order.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.avg(F.col("all_on_time").cast("double")), 6).alias(
                "perfect_order_rate"
            ),
            F.round(
                F.sum("n_on_time").cast("double") / F.sum("n_lines"), 6
            ).alias("line_fill_rate"),
        )
        .orderBy("priority")
    )
