"""As-of join contract query (SURVEY.md §2.3 J8).

For every purchase event, the latest preceding view event by the same
user (ties: equal-timestamp views count; among those the largest
event_id wins). Oracle: DuckDB's native ASOF JOIN on a right side
deduped to one row per (user, ts) under the same tie policy.

Contract keys: ``join_asof``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.asof import asof_join
from etl_framework_spark.registry import query


@query(
    "join_asof",
    oracle="""
    WITH ev AS (SELECT event_id, user_id, event_type, value,
                       date_trunc('second', ts) AS tts
                FROM events),
    purch AS (SELECT event_id, user_id, value, tts FROM ev
              WHERE event_type = 'purchase'),
    views AS (SELECT user_id, tts, event_id, value FROM ev
              WHERE event_type = 'view'
              QUALIFY row_number() OVER (PARTITION BY user_id, tts
                                         ORDER BY event_id DESC) = 1)
    SELECT p.event_id, p.user_id, p.value,
           v.event_id AS right_event_id, v.value AS right_value
    FROM purch p ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND p.tts >= v.tts
    """,
)
def join_asof_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (J8) via the union-tag + running-last formulation:
    one shuffle on user_id, one sort — the shape that scales; DuckDB
    ASOF JOIN is the oracle."""
    ev = table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value", "tts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "value", "tts"
    )
    out = asof_join(
        purch,
        views,
        on="user_id",
        left_ts="tts",
        right_ts="tts",
        payload_cols=["event_id", "value"],
        tiebreak="event_id",
    )
    return out.select("event_id", "user_id", "value", "right_event_id", "right_value")
