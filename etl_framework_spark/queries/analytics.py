"""Event-analytics composites over the events stream table: funnel
conversion, weekly cohort retention, and table-snapshot diff — the
query shapes an analytics/ETL engine is actually bought for. All
exact-oracle; timestamps never cross the engine boundary raw (only
counts, week-truncated DATEs, and change labels are exposed, so the
ns-vs-µs parquet difference can't bite — SURVEY §5.3 rule 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


@query(
    "funnel",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t_click
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.ts >= v.t_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t_buy
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
          GROUP BY e.user_id)
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase
    """,
)
def funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: each stage
    counts users whose first stage-event follows their first
    prior-stage event. Three grouped mins + two equi-joins on
    user_id — every stage is a partial-agg shuffle on the same key,
    so a cluster co-partitions the whole funnel after one exchange."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase")))
    )


@query(
    "cohort_retention",
    oracle="""
    WITH first AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
      FROM events
    )
    SELECT CAST(f.cohort AS TIMESTAMP) AS cohort,
           CAST(date_diff('day', CAST(f.cohort AS DATE), CAST(a.wk AS DATE)) / 7
                AS INT) AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM first f JOIN act a ON f.user_id = a.user_id
    GROUP BY f.cohort, week_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted in every subsequent week they appear. Week boundaries are
    date_trunc('week') on both engines (Monday start); cohort is
    exposed as a midnight TIMESTAMP, not DATE — pandas renders DuckDB
    DATEs as datetime64 but Spark DATEs as python dates, so DATE
    columns canonize differently (repo convention, see fn_date)."""
    ev = table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    return (
        first.join(act, "user_id")
        .select(
            "cohort",
            (
                F.datediff(F.col("wk").cast("date"), F.col("cohort").cast("date")) / 7
            ).cast("int").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@query(
    "cdc_diff",
    oracle="""
    WITH v1 AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders
                WHERE o_orderkey % 7 != 0),
    v2 AS (SELECT o_orderkey AS k,
                  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.1
                       ELSE o_totalprice END AS v
           FROM orders WHERE o_orderkey % 11 != 0)
    SELECT coalesce(v1.k, v2.k) AS k,
           CASE WHEN v1.k IS NULL THEN 'added'
                WHEN v2.k IS NULL THEN 'removed'
                ELSE 'changed' END AS change
    FROM v1 FULL JOIN v2 ON v1.k = v2.k
    WHERE v1.k IS NULL OR v2.k IS NULL OR v1.v <> v2.v
    """,
)
def cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC bootstrap): classify added / removed /
    changed keys between two table versions with one full outer join
    — the change feed you synthesize when the source has no log. The
    two versions here are deterministic slices/mutations of orders so
    both engines derive identical inputs."""
    o = table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("v")
    )
    v2 = o.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 1.1)
        .otherwise(F.col("o_totalprice"))
        .alias("v"),
    )
    j = v1.alias("a").join(v2.alias("b"), F.col("a.k") == F.col("b.k"), "full")
    change = (
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "removed")
        .otherwise("changed")
    )
    return (
        j.filter(
            F.col("a.k").isNull()
            | F.col("b.k").isNull()
            | (F.col("a.v") != F.col("b.v"))
        )
        .select(
            F.coalesce(F.col("a.k"), F.col("b.k")).alias("k"),
            change.alias("change"),
        )
    )


@query(
    "events_anomaly",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type, day)
    SELECT event_type, day, n_events,
           round((n_events - avg(n_events) OVER (PARTITION BY event_type))
                 / stddev_samp(n_events) OVER (PARTITION BY event_type),
                 6) AS zscore
    FROM daily
    """,
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly scores: z-score of each (event_type, day) count
    against that type's own daily distribution — the ops-dashboard
    'did traffic spike' query. Daily counts partial-aggregate
    map-side; the z-score window partitions by event_type over a
    |types|×|days| frame that is tiny at any scale (statistics over
    days, not events)."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n_events"))
    w = W.partitionBy("event_type")
    z = (F.col("n_events") - F.avg("n_events").over(w)) / F.stddev_samp(
        "n_events"
    ).over(w)
    return daily.select(
        "event_type", "day", "n_events", F.round(z, 6).alias("zscore")
    )


@query(
    "events_twa",
    oracle="""
    WITH e AS (SELECT user_id, event_id, value,
                      CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT)
                          AS tsec
               FROM events),
    d AS (SELECT user_id, value, tsec,
                 lead(tsec) OVER (PARTITION BY user_id
                                  ORDER BY tsec, event_id) - tsec AS dt
          FROM e)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_holds,
           round(sum(value * dt) / sum(dt), 6) AS twa_value
    FROM d WHERE dt IS NOT NULL
    GROUP BY user_id
    HAVING sum(dt) > 0
    """,
)
def events_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per user: each reading holds
    until the next one, so it is weighted by its holding interval
    (last-observation-carried-forward, the time-series-native mean —
    an arithmetic mean over irregular samples over-weights bursts).
    One per-user window + one per-user agg; both shuffles share the
    user_id key and users are uniformly distributed."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.date_trunc("second", F.col("ts")).cast("long").alias("tsec"),
    )
    w = W.partitionBy("user_id").orderBy("tsec", "event_id")
    d = e.withColumn("dt", F.lead("tsec").over(w) - F.col("tsec")).filter(
        F.col("dt").isNotNull()
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.count("*").alias("n_holds"),
            F.round(
                F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 6
            ).alias("twa_value"),
            F.sum("dt").alias("_tot"),
        )
        .filter(F.col("_tot") > 0)
        .drop("_tot")
    )


@query(
    "events_sliding_uniques",
    oracle="""
    WITH e AS (SELECT CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT)
                   AS tsec, event_type, user_id FROM events)
    SELECT make_timestamp(((tsec // 86400) - k.k) * 86400 * 1000000)
               AS win_start,
           event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM e, (VALUES (0), (1), (2), (3), (4), (5), (6)) k(k)
    GROUP BY 1, 2
    """,
)
def events_sliding_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding distinct users: 7-day windows advancing daily — the
    rolling-actives metric. COUNT(DISTINCT) cannot ride a window
    frame, so each event expands into the 7 windows containing it
    (window(ts, '7 days', '1 day')) and a plain distinct agg runs per
    (window, type) — the standard scale-out rewrite; the oracle
    expands the slide as 7 shifted tumbles."""
    ev = table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    return (
        ev.groupBy(F.window("tts", "7 days", "1 day").alias("win"), "event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_users")
    )
