"""Contract keys: ``stats_gumbel_block_maxima``, ``sales_fiscal_445``,
``events_capacity_headroom``.

Extreme-value block maxima, 4-4-5 fiscal
calendarization, and capacity headroom.

Reference parity: the reference's EVT risk fit, its fiscal-calendar
mapping, and its capacity-planning rollup — re-expressed as
method-of-moments Gumbel closed forms, pure-arithmetic week/period
bucketing, and peak-ratio aggregation.

Scale notes:

- ``stats_gumbel_block_maxima``: block maxima (daily max per type)
  are one rollup; the Gumbel fit and the 30-block return level are
  closed forms on the 5-row moments table — EVT without any
  iterative likelihood.
- ``sales_fiscal_445``: the fiscal mapping is pure integer
  arithmetic on days-since-FY-start (no calendar dimension table to
  join or maintain) — it pushes into the scan like any other
  expression.
- ``events_capacity_headroom``: mean / p99 / max of the hourly rate
  from one rollup per type; the ratios ARE the provisioning
  decision.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_EULER = 0.5772156649015329
_PI = 3.141592653589793
_RET_T = 30  # return period in blocks
_FY = 1996  # fiscal year to report (starts Feb 1, 1996)


# --------------------------------------------------------------------------
# Gumbel fit of daily block maxima + 30-day return level
# --------------------------------------------------------------------------
@query(
    "stats_gumbel_block_maxima",
    oracle=f"""
    WITH blocks AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             max(value) AS block_max
      FROM events GROUP BY event_type, day
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_blocks,
             avg(block_max) AS mu_s, stddev_samp(block_max) AS sd_s
      FROM blocks GROUP BY event_type
    ),
    fit AS (
      SELECT event_type, n_blocks,
             sd_s * sqrt(6.0) / {_PI} AS beta,
             mu_s - {_EULER} * (sd_s * sqrt(6.0) / {_PI}) AS mu
      FROM m
    )
    SELECT event_type, n_blocks,
           round(mu, 6) AS gumbel_mu,
           round(beta, 6) AS gumbel_beta,
           round(mu - beta * ln(-ln(1.0 - 1.0 / {_RET_T})), 6)
             AS return_level_30,
           round(mu - beta * ln(-ln(0.5)), 6) AS median_block_max
    FROM fit
    """,
)
def stats_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis by block maxima: fit a Gumbel to each
    type's DAILY maximum values via method of moments (β = s√6/π,
    μ = x̄ − γβ) and report the 30-day return level — 'the value you
    expect to see exceeded about once a month' — the number capacity
    and risk limits are set against. Block-maxima EVT complements
    the peaks-over-threshold view of stats_hill_tail. One rollup +
    closed forms. Ref: reference EVT tests."""
    ev = table(spark, sf_dir, "events")
    blocks = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.max("value").alias("block_max"))
    m = blocks.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.avg("block_max").alias("mu_s"),
        F.stddev_samp("block_max").alias("sd_s"),
    )
    beta = F.col("sd_s") * F.sqrt(F.lit(6.0)) / _PI
    mu = F.col("mu_s") - _EULER * beta
    import math

    return m.select(
        "event_type",
        "n_blocks",
        F.round(mu, 6).alias("gumbel_mu"),
        F.round(beta, 6).alias("gumbel_beta"),
        F.round(
            mu - beta * math.log(-math.log(1.0 - 1.0 / _RET_T)), 6
        ).alias("return_level_30"),
        F.round(mu - beta * math.log(-math.log(0.5)), 6).alias(
            "median_block_max"
        ),
    )


# --------------------------------------------------------------------------
# 4-4-5 fiscal calendarization of shipped revenue
# --------------------------------------------------------------------------
@query(
    "sales_fiscal_445",
    oracle=f"""
    WITH d AS (
      SELECT CAST(l_shipdate AS DATE) AS sd, l_extendedprice AS rev
      FROM lineitem
    ),
    fy AS (
      SELECT rev,
             CASE WHEN month(sd) >= 2 THEN year(sd)
                  ELSE year(sd) - 1 END AS fyear,
             date_diff('day',
                       make_date(CASE WHEN month(sd) >= 2 THEN year(sd)
                                      ELSE year(sd) - 1 END, 2, 1),
                       sd) AS doy
      FROM d
    ),
    wk AS (
      SELECT rev, fyear,
             least(CAST(floor(doy / 7.0) AS BIGINT), 51) AS w
      FROM fy WHERE fyear = {_FY}
    ),
    per AS (
      SELECT rev, fyear,
             CAST(floor(w / 13.0) AS BIGINT) * 3
               + CASE WHEN w % 13 < 4 THEN 1
                      WHEN w % 13 < 8 THEN 2 ELSE 3 END AS fiscal_period,
             CASE WHEN w % 13 < 4 THEN 4
                  WHEN w % 13 < 8 THEN 4 ELSE 5 END AS weeks_in_period
      FROM wk
    )
    SELECT fiscal_period,
           CAST(max(weeks_in_period) AS BIGINT) AS weeks_in_period,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(rev), 2) AS revenue,
           round(sum(rev) / max(weeks_in_period), 2) AS revenue_per_week
    FROM per GROUP BY fiscal_period
    """,
)
def sales_fiscal_445(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-4-5 fiscal calendarization: map ship dates onto the retail
    fiscal calendar (FY starts Feb 1; each quarter = 4+4+5 weeks)
    with PURE ARITHMETIC — week = ⌊days-since-FY-start/7⌋, period
    from the week's position in its 13-week quarter — no calendar
    dimension table to build, maintain, or join. Revenue per fiscal
    period AND per week-normalized revenue (the whole point of
    4-4-5: periods of equal week counts compare fairly, so the /4 vs
    /5 column removes the length artifact a calendar month keeps).
    Ref: reference fiscal-calendar tests (cf. sales_seasonal_index,
    orders_busday_lag)."""
    li = table(spark, sf_dir, "lineitem")
    sd = F.col("l_shipdate").cast("date")
    fyear = F.when(F.month(sd) >= 2, F.year(sd)).otherwise(F.year(sd) - 1)
    doy = F.datediff(sd, F.make_date(fyear, F.lit(2), F.lit(1)))
    w = F.least(F.floor(doy / 7.0).cast("bigint"), F.lit(51).cast("bigint"))
    wq = w % 13
    period = F.floor(w / 13.0).cast("bigint") * 3 + (
        F.when(wq < 4, 1).when(wq < 8, 2).otherwise(3)
    )
    wks = F.when(wq < 4, 4).when(wq < 8, 4).otherwise(5)
    per = li.select(
        F.col("l_extendedprice").alias("rev"),
        fyear.alias("fyear"),
        period.alias("fiscal_period"),
        wks.alias("weeks_in_period"),
    ).filter(F.col("fyear") == _FY)
    return per.groupBy("fiscal_period").agg(
        F.max("weeks_in_period").cast("bigint").alias("weeks_in_period"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.round(F.sum("rev"), 2).alias("revenue"),
        F.round(F.sum("rev") / F.max("weeks_in_period"), 2).alias(
            "revenue_per_week"
        ),
    )


# --------------------------------------------------------------------------
# Capacity headroom: peak-to-mean ratios of the hourly event rate
# --------------------------------------------------------------------------
@query(
    "events_capacity_headroom",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             CAST(count(*) AS DOUBLE) AS rate
      FROM events GROUP BY event_type, h
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           round(avg(rate), 6) AS mean_hourly,
           round(quantile_cont(rate, 0.99), 6) AS p99_hourly,
           round(max(rate), 6) AS peak_hourly,
           round(max(rate) / avg(rate), 6) AS peak_to_mean,
           round(quantile_cont(rate, 0.99) / avg(rate), 6) AS p99_to_mean
    FROM hourly GROUP BY event_type
    """,
)
def events_capacity_headroom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity headroom per event stream: mean, p99, and peak
    hourly rates with their ratios to the mean — provisioning for
    the mean melts at p99, provisioning for the peak wastes
    (peak/mean − p99/mean) of the fleet; these two ratios ARE the
    autoscaling policy inputs. One hourly rollup + one grouped
    aggregation. Ref: reference capacity-rollup tests (cf.
    events_hour_dow_profile, feat_velocity_windows)."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("h"),
    ).agg(F.count(F.lit(1)).cast("double").alias("rate"))
    return hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.round(F.avg("rate"), 6).alias("mean_hourly"),
        F.round(F.percentile("rate", 0.99), 6).alias("p99_hourly"),
        F.round(F.max("rate"), 6).alias("peak_hourly"),
        F.round(F.max("rate") / F.avg("rate"), 6).alias("peak_to_mean"),
        F.round(F.percentile("rate", 0.99) / F.avg("rate"), 6).alias(
            "p99_to_mean"
        ),
    )
