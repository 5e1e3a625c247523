"""Contract keys: ``ts_day_of_month_effect``, ``dq_table_ratio_check``,
``sales_discount_response``.

Day-of-month effect, table-ratio checks, and
the discount response curve.

Reference parity: the reference's calendar-effect probe, its
cross-table reconciliation rules, and its promo-response table —
re-expressed as day-of-month deviations, fan-out ratio bounds, and
banded quantity lifts.

Scale notes:

- ``ts_day_of_month_effect``: |days| rollup → 31-group deviations.
- ``dq_table_ratio_check``: three count pairs, one row each.
- ``sales_discount_response``: one banded rollup + a broadcast
  zero-discount baseline.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import guarded
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# Day-of-month effect: does month-end load the demand curve?
# --------------------------------------------------------------------------
@query(
    "ts_day_of_month_effect",
    oracle="""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(sum(l_quantity) AS DOUBLE) AS x
      FROM lineitem GROUP BY day
    ),
    g AS (
      SELECT CAST(dayofmonth(day) AS BIGINT) AS dom,
             CAST(count(*) AS BIGINT) AS n_days,
             avg(x) AS m
      FROM daily GROUP BY dom
    ),
    tot AS (SELECT avg(x) AS mu FROM daily)
    SELECT g.dom, g.n_days,
           floor(g.m * 10000 + 0.5) / 10000 AS mean_qty,
           floor((g.m / tot.mu - 1.0) * 1000000 + 0.5) / 1000000
             AS rel_deviation
    FROM g CROSS JOIN tot
    ORDER BY abs(g.m / tot.mu - 1.0) DESC, g.dom LIMIT 10
    """,
)
def ts_day_of_month_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-month effect: the 10 calendar days (1st…31st) whose
    mean demand deviates most from the overall daily mean — the
    month-end-loading / first-of-month-billing detector that weekly
    seasonality analysis can't see (it aliases across months). Note
    the 31st's small n_days: it exists only in 7 months, which is
    itself a composition artifact this table makes visible. One
    |days| rollup → 31 groups. Ref: reference calendar-effect tests
    (cf. events_hour_dow_profile for the weekly rhythm,
    sales_trading_day_adjusted for the correction)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum("l_quantity").cast("double").alias("x")
    )
    g = daily.groupBy(
        F.dayofmonth("day").cast("bigint").alias("dom")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.avg("x").alias("m"),
    )
    tot = daily.agg(F.avg("x").alias("mu"))
    j = g.crossJoin(F.broadcast(tot))
    dev = F.col("m") / F.col("mu") - 1.0
    return (
        j.select(
            "dom",
            "n_days",
            (F.floor(F.col("m") * 10000.0 + 0.5) / 10000.0).alias("mean_qty"),
            (F.floor(dev * 1000000.0 + 0.5) / 1000000.0).alias(
                "rel_deviation"
            ),
            F.abs(dev).alias("_a"),
        )
        .orderBy(F.desc("_a"), "dom")
        .limit(10)
        .drop("_a")
    )


# --------------------------------------------------------------------------
# Cross-table fan-out ratio reconciliation
# --------------------------------------------------------------------------
@query(
    "dq_table_ratio_check",
    oracle="""
    WITH c AS (
      SELECT (SELECT CAST(count(*) AS DOUBLE) FROM lineitem) AS li,
             (SELECT CAST(count(*) AS DOUBLE) FROM orders) AS od,
             (SELECT CAST(count(*) AS DOUBLE) FROM customer) AS cu,
             (SELECT CAST(count(*) AS DOUBLE) FROM part) AS pt,
             (SELECT CAST(count(*) AS DOUBLE) FROM supplier) AS su
    )
    SELECT 'lineitem/orders' AS ratio_name,
           CAST(li AS BIGINT) AS numerator_rows,
           CAST(od AS BIGINT) AS denominator_rows,
           round(li / od, 4) AS ratio,
           li / od BETWEEN 1.0 AND 8.0 AS within_policy
    FROM c
    UNION ALL
    SELECT 'orders/customer', CAST(od AS BIGINT), CAST(cu AS BIGINT),
           round(od / cu, 4), od / cu BETWEEN 1.0 AND 50.0
    FROM c
    UNION ALL
    SELECT 'part/supplier', CAST(pt AS BIGINT), CAST(su AS BIGINT),
           round(pt / su, 4), pt / su BETWEEN 1.0 AND 100.0
    FROM c
    ORDER BY ratio_name
    """,
)
def dq_table_ratio_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table fan-out reconciliation: lineitem/orders,
    orders/customer, and part/supplier row ratios against policy
    bands. These ratios are load-invariant constants of the schema —
    a lineitem/orders ratio jumping from 4 to 8 overnight means a
    double-load or a dropped parent partition, caught without
    comparing a single row. Five scalar counts, three rows. Ref:
    reference reconciliation tests (cf. dq_order_lineitem_reconcile
    for value-level, dq_partition_volume_anomaly for the time
    axis)."""
    li = table(spark, sf_dir, "lineitem").count()
    od = table(spark, sf_dir, "orders").count()
    cu = table(spark, sf_dir, "customer").count()
    pt = table(spark, sf_dir, "part").count()
    su = table(spark, sf_dir, "supplier").count()
    rows = [
        ("lineitem/orders", li, od, 1.0, 8.0),
        ("orders/customer", od, cu, 1.0, 50.0),
        ("part/supplier", pt, su, 1.0, 100.0),
    ]
    data = [
        (name, num, den, round(num / den, 4), lo_ok <= num / den <= hi_ok)
        for name, num, den, lo_ok, hi_ok in rows
    ]
    df = guarded.local_frame(
        spark,
        data,
        "ratio_name string, numerator_rows bigint, denominator_rows bigint,"
        " ratio double, within_policy boolean",
    )
    return df.orderBy("ratio_name")


# --------------------------------------------------------------------------
# Discount response curve: quantity lift by discount band
# --------------------------------------------------------------------------
@query(
    "sales_discount_response",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(l_discount * 100 / 2) AS BIGINT) AS disc_band,
             CAST(l_quantity AS DOUBLE) AS q
      FROM lineitem
    ),
    g AS (
      SELECT disc_band, CAST(count(*) AS BIGINT) AS n, avg(q) AS mq
      FROM b GROUP BY disc_band
    ),
    base AS (SELECT mq AS m0 FROM g WHERE disc_band = 0)
    SELECT g.disc_band, g.n,
           floor(g.mq * 1000000 + 0.5) / 1000000 AS mean_qty,
           floor((g.mq / base.m0 - 1.0) * 1000000 + 0.5) / 1000000
             AS qty_lift_vs_no_discount
    FROM g CROSS JOIN base ORDER BY g.disc_band
    """,
)
def sales_discount_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount response curve: mean quantity per 2-percentage-point
    discount band, as lift vs the zero-discount baseline. The
    readable version of an elasticity fit — if the curve is flat,
    discounts transfer margin without moving volume (on this
    independent synthetic data it MUST be flat, the null check); a
    real response shows monotone lift. One banded rollup + a
    broadcast baseline. Ref: reference promo-response tests (cf.
    sales_elasticity for the log-log slope,
    sales_volume_discount_curve for the price-structure converse)."""
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.floor(F.col("l_discount") * 100 / 2).cast("bigint").alias("disc_band"),
        F.col("l_quantity").cast("double").alias("q"),
    )
    g = b.groupBy("disc_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), F.avg("q").alias("mq")
    )
    base = g.filter(F.col("disc_band") == 0).select(
        F.col("mq").alias("m0")
    )
    j = g.crossJoin(F.broadcast(base))
    return j.select(
        "disc_band",
        "n",
        (F.floor(F.col("mq") * 1000000.0 + 0.5) / 1000000.0).alias("mean_qty"),
        (
            F.floor((F.col("mq") / F.col("m0") - 1.0) * 1000000.0 + 0.5)
            / 1000000.0
        ).alias("qty_lift_vs_no_discount"),
    ).orderBy("disc_band")
