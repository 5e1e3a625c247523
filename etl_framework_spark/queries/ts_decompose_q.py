"""Contract keys: ``ts_decompose``, ``ts_drawdown``.

Classical time-series decomposition and running
drawdown — the two remaining standard TS analytics shapes.

Scale notes:
- ``ts_decompose``: additive decomposition (trend = centered 7-day
  moving average, seasonal = mean day-of-week residual, remainder) —
  two window passes inside one (event_type) partition plus one tiny
  (type × dow) aggregate that broadcasts back. State never exceeds one
  key's daily series; the day grid is bounded by the calendar, not the
  row count.
- ``ts_drawdown``: running-peak drawdown per user over the cumulative
  value series — two prefix windows (running sum, running max), no
  self-join; the classic O(n log n)-per-key sweep.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# TS — additive seasonal decomposition of daily event counts
# --------------------------------------------------------------------------
@query(
    "ts_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM events GROUP BY event_type, day
    ),
    tr AS (
      SELECT event_type, day, cnt,
             avg(cnt) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
      FROM daily
    ),
    de AS (SELECT *, cnt - trend AS detr,
                  CAST(isodow(day) AS INT) AS dow
           FROM tr),
    se AS (SELECT event_type, dow, avg(detr) AS seasonal
           FROM de GROUP BY event_type, dow)
    SELECT de.event_type, de.day, de.cnt,
           round(trend, 6) AS trend,
           round(seasonal, 6) AS seasonal,
           round(detr - seasonal, 6) AS remainder
    FROM de JOIN se ON de.event_type = se.event_type AND de.dow = se.dow
    """,
)
def ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of daily counts per event
    type: trend = centered 7-day moving average (rows frame), seasonal
    = mean day-of-week residual, remainder = what's left. Two window
    passes in the per-type partition + one 7-row-per-type seasonal
    aggregate joined back (broadcast-sized at any corpus scale)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("double").alias("cnt"))
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    de = daily.withColumn("trend", F.avg("cnt").over(w)).withColumn(
        "detr", F.col("cnt") - F.col("trend")
    )
    # Spark dayofweek is 1=Sunday; ISO dow is 1=Monday..7=Sunday.
    de = de.withColumn(
        "dow",
        F.when(F.dayofweek("day") == 1, 7).otherwise(F.dayofweek("day") - 1),
    )
    se = de.groupBy("event_type", "dow").agg(F.avg("detr").alias("seasonal"))
    return (
        de.join(F.broadcast(se), ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "cnt",
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(F.col("detr") - F.col("seasonal"), 6).alias("remainder"),
        )
    )


# --------------------------------------------------------------------------
# TS — running-peak drawdown of the cumulative value series per user
# --------------------------------------------------------------------------
@query(
    "ts_drawdown",
    oracle="""
    WITH ordered AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id) AS rn
      FROM events
    ),
    cum AS (
      SELECT user_id, rn,
             sum(value) OVER (PARTITION BY user_id ORDER BY rn) AS equity
      FROM ordered
    ),
    dd AS (
      SELECT user_id,
             equity - max(equity) OVER (PARTITION BY user_id ORDER BY rn)
               AS drawdown
      FROM cum
    )
    SELECT user_id,
           round(min(drawdown), 4) AS max_drawdown
    FROM dd GROUP BY user_id
    """,
)
def ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's cumulative value series: two
    prefix windows (running sum = the equity curve, running max = the
    peak) and one aggregate — no self-join, state bounded by one
    user's history. The running sum is a strict in-order prefix fold,
    so both engines accumulate in the same sequence; results rounded
    at the emit boundary."""
    ev = table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    wo = W.partitionBy("user_id").orderBy("tts", "event_id")
    ordered = ev.withColumn("rn", F.row_number().over(wo))
    wp = W.partitionBy("user_id").orderBy("rn")
    cum = ordered.withColumn("equity", F.sum("value").over(wp))
    dd = cum.withColumn(
        "drawdown", F.col("equity") - F.max("equity").over(wp)
    )
    return dd.groupBy("user_id").agg(
        F.round(F.min("drawdown"), 4).alias("max_drawdown")
    )
