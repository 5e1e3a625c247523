"""Contract keys: ``events_outage_gaps``, ``stats_effect_size_anova``,
``sales_concentration_trend``.

Outage gaps, ANOVA effect sizes, and the
customer-concentration trend.

Reference parity: the reference's stream-liveness monitor, its
effect-size reporting, and its concentration trend — re-expressed
as one lag window, SSB/SST closed forms, and yearly HHI rollups.

Scale notes:

- ``events_outage_gaps``: one lag window over the event stream
  (at scale: per shard, then merge).
- ``stats_effect_size_anova``: the same group moments as the F
  test; η² and ω² are closed forms.
- ``sales_concentration_trend``: (year, customer) rollup → yearly
  HHI → closed-form trend over ≤7 points.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6

_GAP_S = 300  # outage threshold (seconds)


# --------------------------------------------------------------------------
# Outage gaps: stream silences above the liveness threshold
# --------------------------------------------------------------------------
@query(
    "events_outage_gaps",
    oracle=f"""
    WITH s AS (
      SELECT CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t
      FROM events
    ),
    d AS (
      SELECT t - lag(t) OVER (ORDER BY t) AS gap FROM s
    ),
    g AS (SELECT gap FROM d WHERE gap IS NOT NULL),
    span AS (SELECT max(t) - min(t) AS total_s FROM s)
    SELECT CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(sum(CASE WHEN gap > {_GAP_S} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outages,
           CAST(max(gap) AS BIGINT) AS worst_gap_s,
           CAST(sum(CASE WHEN gap > {_GAP_S} THEN gap ELSE 0 END) AS BIGINT)
             AS outage_seconds,
           round(CAST(sum(CASE WHEN gap > {_GAP_S} THEN gap ELSE 0 END)
                      AS DOUBLE) / (SELECT total_s FROM span), 9)
             AS downtime_share
    FROM g
    """,
)
def events_outage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-liveness audit: inter-event gaps above the 5-minute
    threshold counted as outages, with the worst silence, total
    outage seconds, and the downtime share of the stream's span.
    The zero-config monitor that catches 'the producer died for 40
    minutes and nobody noticed' — value-level checks can't see
    silence. One lag window over the sorted stream (per shard at
    scale, then merge candidate boundaries). Integer epoch seconds
    → exact. Ref: reference liveness tests (cf. dq_freshness for
    the tail-lateness axis, ts_interarrival for the distribution)."""
    ev = table(spark, sf_dir, "events")
    t = F.unix_timestamp(F.date_trunc("second", F.col("ts"))).cast("bigint")
    s = ev.select(t.alias("t"))
    d = s.withColumn("gap", F.col("t") - F.lag("t").over(W.orderBy("t"))).filter(
        F.col("gap").isNotNull()
    )
    span = s.agg((F.max("t") - F.min("t")).alias("total_s"))
    out = F.when(F.col("gap") > _GAP_S, F.col("gap")).otherwise(0)
    agg = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum(F.when(F.col("gap") > _GAP_S, 1).otherwise(0))
        .cast("bigint")
        .alias("n_outages"),
        F.max("gap").cast("bigint").alias("worst_gap_s"),
        F.sum(out).cast("bigint").alias("outage_seconds"),
    )
    return agg.crossJoin(F.broadcast(span)).select(
        "n_gaps",
        "n_outages",
        "worst_gap_s",
        "outage_seconds",
        F.round(
            F.col("outage_seconds").cast("double") / F.col("total_s"), 9
        ).alias("downtime_share"),
    )


# --------------------------------------------------------------------------
# ANOVA effect sizes: eta-squared and omega-squared
# --------------------------------------------------------------------------
@query(
    "stats_effect_size_anova",
    oracle="""
    WITH g AS (
      SELECT l_returnflag AS flag,
             CAST(count(*) AS DOUBLE) AS n,
             sum(CAST(l_quantity AS DOUBLE)) AS sx,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE))
               AS sxx
      FROM lineitem GROUP BY flag
    ),
    t AS (
      SELECT sum(n) AS n, CAST(count(*) AS DOUBLE) AS k,
             sum(sx) AS sx, sum(sxx) AS sxx,
             sum(sx * sx / n) AS sb
      FROM g
    ),
    ss AS (
      SELECT n, k,
             sb - sx * sx / n AS ssb,
             sxx - sb AS ssw,
             sxx - sx * sx / n AS sst
      FROM t
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           round(ssb, 4) AS ss_between,
           round(ssw, 4) AS ss_within,
           round(ssb / sst, 9) AS eta_squared,
           round((ssb - (k - 1) * (ssw / (n - k)))
                 / (sst + ssw / (n - k)), 9) AS omega_squared,
           round((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat
    FROM ss
    """,
)
def stats_effect_size_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect sizes for the quantity-by-flag ANOVA: η² = SSB/SST
    (variance explained, biased upward) and the bias-corrected ω² =
    (SSB − (k−1)MSW)/(SST + MSW), next to the F itself. The
    statistic the F-test's p-value hides: with 60k rows an F of 4
    is 'significant' while ω² ≈ 0.0001 says the flag explains
    NOTHING — effect size is what decides whether anyone should
    care. Same group moments as the omnibus test. Integer sums →
    exact. Ref: reference effect-size reporting (cf. stats_anova,
    stats_power_analysis for the design-time twin)."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("double")
    g = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    t = g.agg(
        F.sum("n").alias("n"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("sx").alias("sx"),
        F.sum("sxx").alias("sxx"),
        F.sum(F.col("sx") * F.col("sx") / F.col("n")).alias("sb"),
    )
    ss = t.select(
        "n",
        "k",
        (F.col("sb") - F.col("sx") * F.col("sx") / F.col("n")).alias("ssb"),
        (F.col("sxx") - F.col("sb")).alias("ssw"),
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")).alias("sst"),
    )
    n, k = F.col("n"), F.col("k")
    msw = F.col("ssw") / (n - k)
    return ss.select(
        n.cast("bigint").alias("n"),
        k.cast("bigint").alias("k"),
        F.round("ssb", 4).alias("ss_between"),
        F.round("ssw", 4).alias("ss_within"),
        F.round(F.col("ssb") / F.col("sst"), 9).alias("eta_squared"),
        F.round(
            (F.col("ssb") - (k - 1) * msw) / (F.col("sst") + msw), 9
        ).alias("omega_squared"),
        F.round((F.col("ssb") / (k - 1)) / msw, 6).alias("f_stat"),
    )


# --------------------------------------------------------------------------
# Customer-concentration trend: yearly revenue HHI
# --------------------------------------------------------------------------
@query(
    "sales_concentration_trend",
    oracle="""
    WITH cy AS (
      SELECT CAST(substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS BIGINT)
               AS yr,
             o_custkey AS cust, sum(o_totalprice) AS rev
      FROM orders GROUP BY yr, cust
    ),
    y AS (
      SELECT yr, CAST(count(*) AS BIGINT) AS n_customers,
             sum(rev * rev) / (sum(rev) * sum(rev)) AS hhi
      FROM cy GROUP BY yr
    )
    SELECT yr, n_customers,
           floor(hhi * 1000000000 + 0.5) / 1000000000 AS revenue_hhi,
           floor(hhi * CAST(n_customers AS DOUBLE) * 1000000 + 0.5) / 1000000
             AS hhi_x_n
    FROM y ORDER BY yr
    """,
)
def sales_concentration_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-concentration trend: the revenue HHI (Σ share²)
    across customers, per order year — a rising curve means the
    business is drifting toward whale dependence (key-account risk
    compounding), a falling one means diversification. One (year,
    customer) rollup then a per-year HHI; quantized shares. Ref:
    reference concentration tests (cf. supplier_hhi for the static
    number, agg_theil_index for the decomposable alternative)."""
    od = table(spark, sf_dir, "orders")
    cy = od.groupBy(
        F.year(F.col("o_orderdate").cast("date")).cast("bigint").alias("yr"),
        F.col("o_custkey").alias("cust"),
    ).agg(F.sum("o_totalprice").alias("rev"))
    y = cy.groupBy("yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        (
            F.sum(F.col("rev") * F.col("rev"))
            / (F.sum("rev") * F.sum("rev"))
        ).alias("hhi"),
    )
    q9 = lambda c: F.floor(c * F.lit(1000000000.0) + F.lit(0.5)) / F.lit(
        1000000000.0
    )
    return y.select(
        "yr",
        "n_customers",
        q9(F.col("hhi")).alias("revenue_hhi"),
        # HHI x N = equivalent-equal-share multiple (1.0 = perfectly even)
        q6(F.col("hhi") * F.col("n_customers").cast("double")).alias("hhi_x_n"),
    ).orderBy("yr")
