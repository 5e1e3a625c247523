"""Contract keys: ``events_stickiness``, ``events_retention_n``.

Product-analytics engagement metrics — DAU/WAU
stickiness and day-N retention.

Scale notes:
- Both operators reduce the event stream to DISTINCT (user, day)
  pairs first — one partial-agg shuffle keyed by high-cardinality
  user×day, after which everything operates on the bounded
  activity-calendar table (|users| × |days| worst case, typically
  ~1e-3 of raw events).
- ``events_stickiness``: weekly rollups of the user-day table; the
  final report is |weeks| rows.
- ``events_retention_n``: D1/D7 return flags come from one equi-join
  of the user-day table against itself ON (user, day+offset) — an
  equi-key lookup, never a range scan; output is |days| rows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


def _user_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()


# --------------------------------------------------------------------------
# Engagement — weekly stickiness (avg DAU / WAU)
# --------------------------------------------------------------------------
@query(
    "events_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day
      FROM events
    ),
    dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
    wk AS (
      SELECT date_trunc('week', day) AS week_start,
             count(DISTINCT user_id) AS wau
      FROM ud GROUP BY week_start
    ),
    davg AS (
      SELECT date_trunc('week', day) AS week_start,
             avg(dau) AS avg_dau
      FROM dau GROUP BY week_start
    )
    SELECT wk.week_start,
           CAST(wau AS BIGINT) AS wau,
           round(avg_dau, 4) AS avg_dau,
           round(avg_dau / wau, 6) AS stickiness
    FROM wk JOIN davg ON wk.week_start = davg.week_start
    """,
)
def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly engagement stickiness: WAU (distinct weekly users),
    average DAU across the week's days, and the DAU/WAU ratio (the
    classic habit metric). Raw events reduce to distinct user-days
    once; both rollups then run on that bounded table and the report
    is |weeks| rows at any scale."""
    ud = _user_days(spark, sf_dir)
    week = F.date_trunc("week", F.col("day")).alias("week_start")
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    wk = ud.groupBy(week).agg(F.countDistinct("user_id").alias("wau"))
    davg = dau.groupBy(week).agg(F.avg("dau").alias("avg_dau"))
    return (
        wk.join(davg, "week_start")
        .select(
            "week_start",
            F.col("wau").cast("bigint").alias("wau"),
            F.round("avg_dau", 4).alias("avg_dau"),
            F.round(F.col("avg_dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


# --------------------------------------------------------------------------
# Engagement — D1 / D7 retention per activity day
# --------------------------------------------------------------------------
@query(
    "events_retention_n",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day
      FROM events
    )
    SELECT a.day,
           CAST(count(*) AS BIGINT) AS active_users,
           CAST(sum(CASE WHEN d1.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS returned_d1,
           CAST(sum(CASE WHEN d7.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS returned_d7,
           round(sum(CASE WHEN d1.user_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS d1_rate,
           round(sum(CASE WHEN d7.user_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS d7_rate
    FROM ud a
    LEFT JOIN ud d1 ON a.user_id = d1.user_id AND d1.day = a.day + INTERVAL 1 DAY
    LEFT JOIN ud d7 ON a.user_id = d7.user_id AND d7.day = a.day + INTERVAL 7 DAY
    GROUP BY a.day
    """,
)
def events_retention_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N retention: for each activity day, the fraction of its
    active users who are active again exactly 1 and 7 days later.
    Return flags are equi-joins of the distinct user-day table
    against itself on (user, day+offset) — co-partitioned key
    lookups, never range scans; the report is |days| rows."""
    ud = _user_days(spark, sf_dir)
    d1 = ud.select(F.col("user_id").alias("u1"), F.col("day").alias("d1day"))
    d7 = ud.select(F.col("user_id").alias("u7"), F.col("day").alias("d7day"))
    j = (
        ud.alias("a")
        .join(
            d1,
            (F.col("a.user_id") == F.col("u1"))
            & (F.col("d1day") == F.col("a.day") + F.expr("INTERVAL 1 DAY")),
            "left",
        )
        .join(
            d7,
            (F.col("a.user_id") == F.col("u7"))
            & (F.col("d7day") == F.col("a.day") + F.expr("INTERVAL 7 DAY")),
            "left",
        )
    )
    ret1 = F.sum(F.when(F.col("d1day").isNotNull(), 1).otherwise(0))
    ret7 = F.sum(F.when(F.col("d7day").isNotNull(), 1).otherwise(0))
    return j.groupBy(F.col("a.day").alias("day")).agg(
        F.count("*").alias("active_users"),
        ret1.cast("bigint").alias("returned_d1"),
        ret7.cast("bigint").alias("returned_d7"),
        F.round(ret1 / F.count("*"), 6).alias("d1_rate"),
        F.round(ret7 / F.count("*"), 6).alias("d7_rate"),
    )
