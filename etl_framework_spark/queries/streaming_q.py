"""Streaming operators, batch-equivalent form (SURVEY.md §2.9 T1–T6).

Each operator is written once over the DataFrame API: the contract
query runs it in batch against the DuckDB oracle; the streaming
harness (etl_framework_spark.streaming) replays the same parquet
through readStream and must converge to the same answer
(tests/test_streaming.py). events.ts is second-truncated on both
sides before windowing (ns-parquet fidelity, SURVEY.md §5.3 rule 4).

Contract keys: ``stream_tumbling``, ``stream_sliding``,
``stream_session``, ``stream_dedup``, ``stream_stateful``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )


# --------------------------------------------------------------------------
# T1 — tumbling window aggregation
# --------------------------------------------------------------------------
def tumbling_transform(ev: DataFrame) -> DataFrame:
    """Shared batch/stream transform (the streaming test reuses it)."""
    ev = ev.withColumn("tts", F.date_trunc("second", F.col("ts")))
    return (
        ev.groupBy(F.window("tts", "1 day").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "total")
    )


@query(
    "stream_tumbling",
    oracle="""
    SELECT date_trunc('day', date_trunc('second', ts)) AS win_start,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS total
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day window (T1): epoch-aligned windows == date_trunc."""
    return tumbling_transform(table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# T2 — sliding window aggregation
# --------------------------------------------------------------------------
@query(
    "stream_sliding",
    oracle="""
    WITH e AS (SELECT CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT)
                 AS tsec, event_type FROM events)
    SELECT make_timestamp(((tsec // 21600) - k.k) * 21600 * 1000000) AS win_start,
           event_type, count(*) AS n
    FROM e, (VALUES (0), (1), (2), (3)) k(k)
    GROUP BY 1, 2
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (T2): 1-day windows every 6h — each event lands
    in exactly 4 windows; the oracle expands the slide as 4 shifted
    tumbles."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("tts", "1 day", "6 hours").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )


# --------------------------------------------------------------------------
# T3 — session windows (30-minute gap)
# --------------------------------------------------------------------------
def session_transform(ev: DataFrame) -> DataFrame:
    ev = ev.withColumn("tts", F.date_trunc("second", F.col("ts")))
    return (
        ev.groupBy(F.session_window("tts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_session",
    oracle="""
    WITH e AS (SELECT user_id, value, date_trunc('second', ts) AS tts FROM events),
    m AS (SELECT *, CASE WHEN lag(tts) OVER w IS NULL
                           OR tts - lag(tts) OVER w > INTERVAL 30 MINUTE
                         THEN 1 ELSE 0 END AS brk
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tts)),
    s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tts
                                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM m)
    SELECT user_id,
           min(tts) AS sess_start,
           max(tts) + INTERVAL 30 MINUTE AS sess_end,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (T3): gap-based sessions per user. Spark's
    merge rule is INCLUSIVE at the boundary: an event exactly `gap`
    after the previous one still merges (verified empirically —
    a pair at diff == gap yields ONE session ending at last+gap), so
    the oracle breaks only on strictly-greater gaps. This only shows
    up at sf0.1 where second-truncated exact-gap pairs exist."""
    return session_transform(table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# T5 — streaming dedup (batch equivalent: earliest per key)
# --------------------------------------------------------------------------
@query(
    "stream_dedup",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM (
      SELECT event_id, user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY date_trunc('second', ts), event_id) AS rn
      FROM events) WHERE rn = 1
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (T5), batch equivalent: keep the earliest event
    per (user, type) under a total order — what
    withWatermark+dropDuplicates converges to on replay."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id", "event_type").orderBy("tts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "value")
    )


# --------------------------------------------------------------------------
# T6 — stateful per-key processing (batch analog via applyInPandas)
# --------------------------------------------------------------------------
@query(
    "stream_stateful",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key stateful processing (T6), batch analog: the per-user
    count/sum accumulator applyInPandasWithState keeps on a stream.
    The real streaming path (with the explicit state object) runs in
    tests/test_streaming.py.

    r11 optimization (guide §4.1, aggregate before you shuffle): the
    batch analog was an applyInPandas Python fold — every event row
    crossed the JVM→Python boundary and the shuffle carried raw
    events. The accumulator is count+sum, which IS a built-in
    aggregate: partial map-side aggregation shuffles one (count, sum)
    pair per (partition, user) instead of every event, and no Python
    worker runs at all (ArrowEvalPython/FlatMapGroupsInPandas node
    removed from the plan). Result-identical: the fold's per-group
    event order only affected float addition order, and the 2dp round
    absorbs that — the DuckDB oracle already sums in ITS own order,
    so order-robustness was a standing requirement, not a new
    assumption (A/B at sf0.1: collected outputs byte-equal)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
