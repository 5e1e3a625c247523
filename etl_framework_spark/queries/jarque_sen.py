"""Contract keys: ``stats_jarque_bera``, ``ts_sen_slope``.

Normality testing and robust trend slopes.

Scale notes:

- ``stats_jarque_bera``: higher-moment reduction per nation (one
  partial-agg shuffle); the JB statistic is a closed form over
  skewness/kurtosis.
- ``ts_sen_slope``: Sen's slope estimator — the robust companion to
  stats_mannkendall's trend DIRECTION: the median of all pairwise
  slopes over the calendar-bounded daily series (|days|² pairs per
  type, independent of raw volume; exact order-statistic median).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_JB_CRIT = 5.991464547107979  # chi-square(2) 95% critical value


# --------------------------------------------------------------------------
# Normality — Jarque-Bera test on customer balances per nation
# --------------------------------------------------------------------------
@query(
    "stats_jarque_bera",
    oracle=f"""
    WITH s AS (
      SELECT n.n_name AS nation,
             CAST(count(*) AS DOUBLE) AS n,
             skewness(c.c_acctbal) * (count(*) - 2)
               / sqrt(count(*) * (count(*) - 1.0)) AS sk,
             (kurtosis(c.c_acctbal) * (count(*) - 2.0) * (count(*) - 3)
              / (count(*) - 1.0) - 6) / (count(*) + 1.0) AS ku
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY nation
      HAVING count(*) >= 10
    )
    SELECT nation,
           CAST(n AS BIGINT) AS n_customers,
           round(sk, 6) AS skewness,
           round(ku, 6) AS excess_kurtosis,
           round(n / 6.0 * (sk * sk + ku * ku / 4.0), 6) AS jb_stat,
           n / 6.0 * (sk * sk + ku * ku / 4.0) > {_JB_CRIT} AS non_normal
    FROM s
    """,
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of customer account balances per
    nation: JB = n/6·(S² + K²/4) against the χ²(2) 95% critical
    value — the cheap screen before anyone applies a
    normality-assuming model to a metric. Spark reports POPULATION
    skewness/excess-kurtosis (the JB convention); the oracle converts
    DuckDB's sample moments with the exact n-dependent factors
    (agg_stats2's verified conversion). One higher-moment reduction
    per nation is the only shuffle; nations under 10 customers are
    excluded (sample moments undefined at tiny n). The synthetic balances
    are uniform, so every nation SHOULD flag non-normal — a correct
    'yes' is the A/A here."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    s = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("double").alias("n"),
            F.skewness("c_acctbal").alias("sk"),
            F.kurtosis("c_acctbal").alias("ku"),
        )
        # tiny nations make sample moments undefined (DuckDB NaN at
        # n<4); JB is meaningless there anyway
        .filter(F.col("n") >= 10)
    )
    jb = F.col("n") / 6.0 * (
        F.col("sk") * F.col("sk") + F.col("ku") * F.col("ku") / 4.0
    )
    return s.select(
        "nation",
        F.col("n").cast("bigint").alias("n_customers"),
        F.round("sk", 6).alias("skewness"),
        F.round("ku", 6).alias("excess_kurtosis"),
        F.round(jb, 6).alias("jb_stat"),
        (jb > _JB_CRIT).alias("non_normal"),
    )


# --------------------------------------------------------------------------
# Trend magnitude — Sen's slope over daily counts per event type
# --------------------------------------------------------------------------
@query(
    "ts_sen_slope",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY event_type, day
    ),
    slopes AS (
      SELECT a.event_type,
             (b.n - a.n)
               / ((epoch(b.day) - epoch(a.day)) / 86400.0) AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(slope, 0.5), 6) AS sen_slope,
           round(quantile_cont(slope, 0.25), 6) AS slope_q1,
           round(quantile_cont(slope, 0.75), 6) AS slope_q3
    FROM slopes GROUP BY event_type
    """,
)
def ts_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sen's slope estimator per event type — the MAGNITUDE companion
    to stats_mannkendall's trend direction: the median of all
    pairwise (x_j − x_i)/(t_j − t_i) slopes over the daily series,
    robust to outlier days where OLS is not. The pair enumeration is
    the calendar-bounded self-join (|days|² per type, independent of
    raw volume); the median/quartiles are exact interpolated order
    statistics (percentile ↔ quantile_cont parity per agg_median).
    Slopes divide exact integer deltas by exact day gaps."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    a = daily.select("event_type", "day", F.col("n").alias("na"))
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("day").alias("day_b"),
        F.col("n").alias("nb"),
    )
    gap_days = (
        F.unix_timestamp(F.col("day_b").cast("timestamp"))
        - F.unix_timestamp(F.col("day").cast("timestamp"))
    ) / 86400.0
    slopes = a.join(
        b,
        (F.col("event_type") == F.col("et_b"))
        & (F.col("day") < F.col("day_b")),
    ).select(
        "event_type",
        ((F.col("nb") - F.col("na")) / gap_days).alias("slope"),
    )
    return slopes.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.percentile(F.col("slope"), F.lit(0.5)), 6).alias(
            "sen_slope"
        ),
        F.round(F.percentile(F.col("slope"), F.lit(0.25)), 6).alias(
            "slope_q1"
        ),
        F.round(F.percentile(F.col("slope"), F.lit(0.75)), 6).alias(
            "slope_q3"
        ),
    )
