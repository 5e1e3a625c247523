"""Window functions: SURVEY.md §2.5 (W1–W6).

Determinism discipline (SURVEY.md §5.3 rule 2): row_number/ntile/top-k
always order by a total order (unique-key tiebreak); rank/dense_rank/
percent_rank are tie-stable by definition. events.ts is truncated to
seconds on both sides before ordering/arithmetic (rule 4).

Scale: a window = one shuffle on the partition keys + per-partition
sort. All partition keys here (user_id, custkey, status) are
high-cardinality or low-skew; no global (unpartitioned) windows over
big tables.

Contract keys: ``win_rank``, ``win_lag_lead``, ``win_running_sum``,
``win_moving_avg``, ``win_range_frame``, ``win_topk_group``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


def _events_tts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts truncated to seconds (ns-fidelity normalization)."""
    ev = table(spark, sf_dir, "events")
    return ev.withColumn("tts", F.date_trunc("second", F.col("ts")))


# --------------------------------------------------------------------------
# W1 — ranking functions
# --------------------------------------------------------------------------
@query(
    "win_rank",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           row_number() OVER w_total AS rn,
           ntile(4)     OVER w_total AS nt,
           rank()        OVER w_val AS rk,
           dense_rank()  OVER w_val AS drk,
           percent_rank() OVER w_val AS prk
    FROM orders
    WINDOW w_total AS (PARTITION BY o_orderstatus
                       ORDER BY o_totalprice DESC, o_orderkey),
           w_val   AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC)
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family (W1). row_number/ntile need the total order;
    rank/dense_rank/percent_rank are deterministic under ties."""
    o = table(spark, sf_dir, "orders")
    w_total = W.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_val = W.partitionBy("o_orderstatus").orderBy(F.col("o_totalprice").desc())
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.row_number().over(w_total).alias("rn"),
        F.ntile(4).over(w_total).alias("nt"),
        F.rank().over(w_val).alias("rk"),
        F.dense_rank().over(w_val).alias("drk"),
        F.percent_rank().over(w_val).alias("prk"),
    )


# --------------------------------------------------------------------------
# W2 — lag / lead / first_value
# --------------------------------------------------------------------------
@query(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           lag(value)  OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           first_value(event_id) OVER w AS first_event
    FROM (SELECT event_id, user_id, value, date_trunc('second', ts) AS tts
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY tts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic offsets (W2) over per-user event time."""
    ev = _events_tts(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("tts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("event_id").over(w).alias("first_event"),
    )


# --------------------------------------------------------------------------
# W3 — running aggregate (cumulative row frame)
# --------------------------------------------------------------------------
@query(
    "win_running_sum",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER w, 4) AS running_value,
           count(*) OVER w AS running_n
    FROM (SELECT event_id, user_id, value, date_trunc('second', ts) AS tts
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY tts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum/count (W3). Rounded: DuckDB's segment-tree window
    aggregation associates float adds differently than Spark's."""
    ev = _events_tts(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("tts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
        F.count("*").over(w).alias("running_n"),
    )


# --------------------------------------------------------------------------
# W4 — sliding row frame (moving average)
# --------------------------------------------------------------------------
@query(
    "win_moving_avg",
    oracle="""
    SELECT event_id, user_id,
           round(avg(value) OVER w, 6) AS ma7
    FROM (SELECT event_id, user_id, value, date_trunc('second', ts) AS tts
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY tts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving average over the previous 7 rows (W4)."""
    ev = _events_tts(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("tts", "event_id").rowsBetween(-6, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("ma7"),
    )


# --------------------------------------------------------------------------
# W5 — range (value/time-based) frame
# --------------------------------------------------------------------------
@query(
    "win_range_frame",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER w, 4) AS sum_1h,
           count(*) OVER w AS n_1h
    FROM (SELECT event_id, user_id, value,
                 CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS tsec
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY tsec
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based range frame (W5): trailing 1-hour sum per user.
    RANGE frames are order-insensitive within equal keys, so no
    tiebreak is needed — the frame is defined by the time value."""
    ev = _events_tts(spark, sf_dir).withColumn("tsec", F.col("tts").cast("long"))
    w = W.partitionBy("user_id").orderBy("tsec").rangeBetween(-3600, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("sum_1h"),
        F.count("*").over(w).alias("n_1h"),
    )


# --------------------------------------------------------------------------
# W6 — top-k per group
# --------------------------------------------------------------------------
@query(
    "win_topk_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def win_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (W6): the dedup/top-n workhorse.
    At 100 TB: one shuffle on the group key; Spark pushes a per-key
    rank limit into the sort (WindowGroupLimit) so partitions never
    materialize more than k rows per key."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )
