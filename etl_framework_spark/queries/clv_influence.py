"""Contract keys: ``sales_customer_npv``, ``stats_cooks_distance``,
``events_peak_shaving``.

Discounted customer value, regression influence,
and peak-shaving simulation.

Reference parity: the reference's NPV rollup, its influence
diagnostics, and its capacity what-if simulator — re-expressed as
closed-form discounting, per-row leverage arithmetic, and a queue
fold over the hourly series.

Scale notes:

- ``sales_customer_npv``: each order discounts row-locally
  (pow(1+r, years-since-first)); the ranking is one rollup + top-k.
- ``stats_cooks_distance``: with one regressor, leverage and Cook's
  D are per-row CLOSED FORMS given five broadcast moments — the
  O(n) influence pass that makes 'which rows drive the fit'
  answerable without refitting n models.
- ``events_peak_shaving``: serving load above a cap defers work to
  later hours — the queue state makes it inherently sequential, so
  a strict [queue, max_queue, deferred_hours] fold per stream
  answers 'what cap could we get away with'.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6

_RATE = 0.10  # annual discount rate
_TOP = 10


# --------------------------------------------------------------------------
# Customer NPV: discounted order cashflows vs raw totals
# --------------------------------------------------------------------------
@query(
    "sales_customer_npv",
    oracle=f"""
    WITH f AS (
      SELECT o_custkey AS cust,
             min(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey)
               AS first_d,
             CAST(o_orderdate AS DATE) AS d,
             o_totalprice AS rev
      FROM orders
    ),
    disc AS (
      SELECT cust, rev,
             rev / pow(1.0 + {_RATE},
                       date_diff('day', first_d, d) / 365.25) AS drev
      FROM f
    ),
    s AS (
      SELECT cust, CAST(count(*) AS BIGINT) AS n_orders,
             sum(rev) AS raw_total, sum(drev) AS npv
      FROM disc GROUP BY cust
    )
    SELECT cust AS c_custkey, n_orders,
           round(raw_total, 2) AS raw_total,
           round(npv, 2) AS npv,
           round(npv / raw_total, 6) AS discount_factor_effective
    FROM s ORDER BY npv DESC, cust LIMIT {_TOP}
    """,
)
def sales_customer_npv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by NET PRESENT VALUE of their order stream:
    each order discounts at 10%/year from the customer's FIRST order
    (rev/(1+r)^Δyears), so early-loaded revenue outranks an equal
    raw total arriving late — the ranking finance actually wants,
    shown next to the raw total and the effective discount factor.
    Row-local pow + one rollup + deterministic top-k. Ref: reference
    customer-value tests (cf. cohort_ltv, orders_rfm)."""
    od = table(spark, sf_dir, "orders")
    wfc = W.partitionBy("o_custkey")
    f = od.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_totalprice").alias("rev"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.min(F.col("o_orderdate").cast("date")).over(wfc),
        ).alias("dd"),
    )
    disc = f.withColumn(
        "drev", F.col("rev") / F.pow(F.lit(1.0 + _RATE), F.col("dd") / 365.25)
    )
    s = disc.groupBy("cust").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("rev").alias("raw_total"),
        F.sum("drev").alias("npv"),
    )
    return (
        s.orderBy(F.desc("npv"), "cust")
        .limit(_TOP)
        .select(
            F.col("cust").alias("c_custkey"),
            "n_orders",
            F.round("raw_total", 2).alias("raw_total"),
            F.round("npv", 2).alias("npv"),
            F.round(F.col("npv") / F.col("raw_total"), 6).alias(
                "discount_factor_effective"
            ),
        )
    )


# --------------------------------------------------------------------------
# Cook's distance: most influential rows in quantity ~ discount
# --------------------------------------------------------------------------
@query(
    "stats_cooks_distance",
    oracle="""
    WITH m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(l_discount) AS mx, avg(l_quantity) AS my,
             avg(l_discount * l_quantity) AS mxy,
             avg(l_discount * l_discount) AS mxx
      FROM lineitem
    ),
    fit AS (
      SELECT n, mx, my,
             (mxy - mx * my) / (mxx - mx * mx) AS b1,
             n * (mxx - mx * mx) AS sxx
      FROM m
    ),
    r AS (
      SELECT l_orderkey, l_linenumber, l_discount, l_quantity,
             l_quantity - (fit.my + fit.b1 * (l_discount - fit.mx)) AS e,
             1.0 / fit.n
               + (l_discount - fit.mx) * (l_discount - fit.mx) / fit.sxx
               AS h,
             fit.n
      FROM lineitem CROSS JOIN fit
    ),
    s2 AS (SELECT sum(e * e) / (max(n) - 2) AS s2 FROM r),
    d AS (
      SELECT l_orderkey, l_linenumber,
             e * e * h / (2 * s2.s2 * (1 - h) * (1 - h)) AS cooks_d,
             h AS leverage
      FROM r CROSS JOIN s2
    )
    SELECT l_orderkey, l_linenumber,
           round(cooks_d, 9) AS cooks_d,
           round(leverage, 9) AS leverage
    FROM d ORDER BY cooks_d DESC, l_orderkey, l_linenumber LIMIT 10
    """,
)
def stats_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance for the quantity ~ discount fit: the 10 line
    items whose removal would move the fitted line most —
    D_i = e²h/(p·s²(1−h)²) with single-regressor leverage
    h = 1/n + (x−x̄)²/Sxx, all per-row CLOSED FORMS once five
    broadcast moments are known (no n leave-one-out refits). The
    influence audit that separates 'outlier in y' from 'leverage in
    x'. Ref: reference regression-diagnostics tests (cf.
    stats_breusch_pagan, stats_iqr_outliers)."""
    li = table(spark, sf_dir, "lineitem")
    x, y = F.col("l_discount"), F.col("l_quantity")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg(x).alias("mx"),
        F.avg(y).alias("my"),
        F.avg(x * y).alias("mxy"),
        F.avg(x * x).alias("mxx"),
    )
    fit = m.select(
        "n",
        "mx",
        "my",
        ((F.col("mxy") - F.col("mx") * F.col("my")) / (F.col("mxx") - F.col("mx") * F.col("mx"))).alias(
            "b1"
        ),
        (F.col("n") * (F.col("mxx") - F.col("mx") * F.col("mx"))).alias("sxx"),
    )
    r = li.crossJoin(F.broadcast(fit)).select(
        "l_orderkey",
        "l_linenumber",
        (y - (F.col("my") + F.col("b1") * (x - F.col("mx")))).alias("e"),
        (
            1.0 / F.col("n")
            + (x - F.col("mx")) * (x - F.col("mx")) / F.col("sxx")
        ).alias("h"),
        "n",
    )
    s2 = r.agg(
        (F.sum(F.col("e") * F.col("e")) / (F.max("n") - 2)).alias("s2")
    )
    d = r.crossJoin(F.broadcast(s2)).select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("e")
            * F.col("e")
            * F.col("h")
            / (2 * F.col("s2") * (1 - F.col("h")) * (1 - F.col("h")))
        ).alias("cooks_d"),
        F.col("h").alias("leverage"),
    )
    return (
        d.orderBy(F.desc("cooks_d"), "l_orderkey", "l_linenumber")
        .limit(10)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("cooks_d", 9).alias("cooks_d"),
            F.round("leverage", 9).alias("leverage"),
        )
    )


# --------------------------------------------------------------------------
# Peak-shaving what-if: defer load above the p90 cap
# --------------------------------------------------------------------------
@query(
    "events_peak_shaving",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             CAST(count(*) AS DOUBLE) AS load
      FROM events GROUP BY event_type, h
    ),
    cap AS (
      SELECT event_type, quantile_cont(load, 0.9) AS cap
      FROM hourly GROUP BY event_type
    ),
    arrs AS (
      SELECT hourly.event_type, max(cap.cap) AS cap,
             CAST(count(*) AS BIGINT) AS n_hours,
             list(hourly.load ORDER BY hourly.h) AS xs
      FROM hourly JOIN cap ON hourly.event_type = cap.event_type
      GROUP BY hourly.event_type
    ),
    st AS (
      SELECT event_type, cap, n_hours,
             list_reduce(
               array_concat([[CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                              CAST(0.0 AS DOUBLE)]],
                            list_transform(xs, x -> [x, CAST(0.0 AS DOUBLE),
                                                     CAST(0.0 AS DOUBLE)])),
               (acc, el) -> [
                 greatest(acc[1] + el[1] - cap, 0.0),
                 greatest(acc[2], greatest(acc[1] + el[1] - cap, 0.0)),
                 acc[3] + CASE WHEN greatest(acc[1] + el[1] - cap, 0.0) > 0
                               THEN 1.0 ELSE 0.0 END]) AS s
      FROM arrs
    )
    SELECT event_type, n_hours,
           round(cap, 6) AS cap_p90,
           floor(s[2] * 1000000 + 0.5) / 1000000 AS max_queue_depth,
           CAST(s[3] AS BIGINT) AS hours_with_backlog,
           floor(s[1] * 1000000 + 0.5) / 1000000 AS final_backlog
    FROM st
    """,
)
def events_peak_shaving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-shaving what-if: cap each stream's hourly throughput at
    its own p90 and DEFER the excess to later hours — the queue
    recursion q ← max(0, q + load − cap) reports the max backlog
    depth, how many hours run with a backlog, and whether the queue
    drains by the end: together, whether a p90-sized fleet survives
    the peaks. Queue state is inherently sequential → a strict
    3-component fold per stream over the hourly rollup (init ridden
    as the first DuckDB list element). Ref: reference capacity
    what-if tests (cf. events_capacity_headroom,
    events_token_bucket, ts_clamped_cumsum)."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("h"),
    ).agg(F.count(F.lit(1)).cast("double").alias("load"))
    cap = hourly.groupBy("event_type").agg(
        F.percentile("load", 0.9).alias("cap")
    )
    arrs = (
        hourly.join(F.broadcast(cap), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("cap").alias("cap"),
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.array_sort(F.collect_list(F.struct("h", "load"))).alias("sv"),
        )
    )
    xs = F.col("sv.load")
    zero = F.lit(0.0).cast("double")
    init = F.struct(zero.alias("q"), zero.alias("mq"), zero.alias("bh"))
    qn = lambda acc, x: F.greatest(acc["q"] + x - F.col("cap"), F.lit(0.0))
    state = F.aggregate(
        xs,
        init,
        lambda acc, x: F.struct(
            qn(acc, x).alias("q"),
            F.greatest(acc["mq"], qn(acc, x)).alias("mq"),
            (
                acc["bh"]
                + F.when(qn(acc, x) > 0, F.lit(1.0)).otherwise(F.lit(0.0))
            ).alias("bh"),
        ),
    )
    return arrs.select(
        "event_type",
        "n_hours",
        F.round("cap", 6).alias("cap_p90"),
        q6(state["mq"]).alias("max_queue_depth"),
        state["bh"].cast("bigint").alias("hours_with_backlog"),
        q6(state["q"]).alias("final_backlog"),
    )
