"""Contract keys: ``stats_auc_pit``, ``events_growth_accounting``,
``events_hour_dow_profile``.

Ranking-quality AUC, growth accounting, and
hour-of-week load profiling.

Reference parity: the reference's classifier-eval metrics, its
growth-accounting (user lifecycle) report, and its load heatmap —
re-expressed as a rank-sum AUC with tie correction, lagged weekly
presence classification, and a two-key rollup with within-group
shares.

Scale notes:

- ``stats_auc_pit``: AUC computed the rank-sum way — ONE global sort
  of the scores (average ranks handle ties exactly) and two
  aggregates; no pairwise O(n²) comparisons anywhere.
- ``events_growth_accounting``: per-(user, week) presence is one
  rollup; each user's week-over-week transition comes from a lag
  window over their own presence row — the report is |weeks| rows
  no matter how many users.
- ``events_hour_dow_profile``: one (dow, hour) rollup + a window
  share within each day — 168 cells regardless of volume.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# AUC of the point-in-time base-rate predictor (rank-sum form)
# --------------------------------------------------------------------------
@query(
    "stats_auc_pit",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t,
             event_id
      FROM events
    ),
    p AS (
      SELECT y, sum(y) OVER w / count(*) OVER w AS phat
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    scored AS (SELECT y, phat FROM p WHERE phat IS NOT NULL),
    ranked AS (
      SELECT y, CAST(avg(rn) OVER (PARTITION BY phat) AS DOUBLE) AS arank
      FROM (SELECT y, phat,
                   row_number() OVER (ORDER BY phat) AS rn
            FROM scored)
    ),
    m AS (
      SELECT CAST(count(*) FILTER (y = 1.0) AS DOUBLE) AS np,
             CAST(count(*) FILTER (y = 0.0) AS DOUBLE) AS nn,
             sum(CASE WHEN y = 1.0 THEN arank ELSE 0 END) AS rsum
      FROM ranked
    )
    SELECT CAST(np AS BIGINT) AS n_pos,
           CAST(nn AS BIGINT) AS n_neg,
           round((rsum - np * (np + 1) / 2) / (np * nn), 6) AS auc,
           (rsum - np * (np + 1) / 2) / (np * nn) > 0.5 AS better_than_chance
    FROM m
    """,
)
def stats_auc_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the leakage-free PIT base-rate predictor (each
    user's prior purchase share) for the is-purchase label, computed
    the rank-sum way: AUC = (R⁺ − n⁺(n⁺+1)/2)/(n⁺n⁻) with AVERAGE
    ranks over score ties (p̂ is a ratio of small integers, so ties
    are massive and the correction is not optional). One global sort
    + two aggregates — never the O(n²) pair count. The threshold-free
    companion to stats_brier_calibration. Ref: reference
    classifier-eval tests (cf. stats_mannwhitney — the same statistic
    wearing its testing hat)."""
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("t"),
        "event_id",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    scored = (
        seq.select(
            "y", (F.sum("y").over(w) / F.count(F.lit(1)).over(w)).alias("phat")
        )
        .filter(F.col("phat").isNotNull())
    )
    ranked = scored.withColumn(
        "rn", F.row_number().over(W.partitionBy().orderBy("phat"))
    ).withColumn(
        "arank",
        F.avg("rn").over(W.partitionBy("phat")).cast("double"),
    )
    m = ranked.agg(
        F.count(F.when(F.col("y") == 1.0, 1)).cast("double").alias("np"),
        F.count(F.when(F.col("y") == 0.0, 1)).cast("double").alias("nn"),
        F.sum(F.when(F.col("y") == 1.0, F.col("arank")).otherwise(0.0)).alias(
            "rsum"
        ),
    )
    auc = (F.col("rsum") - F.col("np") * (F.col("np") + 1) / 2) / (
        F.col("np") * F.col("nn")
    )
    return m.select(
        F.col("np").cast("bigint").alias("n_pos"),
        F.col("nn").cast("bigint").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        (auc > 0.5).alias("better_than_chance"),
    )


# --------------------------------------------------------------------------
# Weekly growth accounting: new / retained / resurrected / churned
# --------------------------------------------------------------------------
@query(
    "events_growth_accounting",
    oracle="""
    WITH wk AS (
      SELECT DISTINCT user_id,
             date_trunc('week', ts) AS week
      FROM events
    ),
    hist AS (
      SELECT user_id, week,
             lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_wk,
             min(week) OVER (PARTITION BY user_id) AS first_wk
      FROM wk
    ),
    cls AS (
      SELECT week,
             CASE WHEN week = first_wk THEN 'new'
                  WHEN prev_wk = week - INTERVAL 7 DAY THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM hist
    ),
    weekly AS (
      SELECT week,
             CAST(count(*) AS BIGINT) AS active,
             CAST(count(*) FILTER (state = 'new') AS BIGINT) AS new_users,
             CAST(count(*) FILTER (state = 'retained') AS BIGINT)
               AS retained,
             CAST(count(*) FILTER (state = 'resurrected') AS BIGINT)
               AS resurrected
      FROM cls GROUP BY week
    )
    SELECT week, active, new_users, retained, resurrected,
           coalesce(lag(active) OVER (ORDER BY week), 0) - retained
             AS churned_from_prev
    FROM weekly
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting — the table every growth review opens
    with: actives split into NEW (first-ever week), RETAINED (also
    active the immediately previous week), RESURRECTED (back after a
    gap), plus CHURNED = last week's actives who didn't retain
    (active₋₁ − retained, the accounting identity). Per-(user, week)
    presence is one distinct rollup; each user's transition is a lag
    over their own ≤5 presence rows; the report is |weeks| rows.
    Ref: reference lifecycle tests (cf. events_new_vs_returning,
    cohort_retention)."""
    ev = table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    wu = W.partitionBy("user_id").orderBy("week")
    hist = wk.select(
        "user_id",
        "week",
        F.lag("week").over(wu).alias("prev_wk"),
        F.min("week").over(W.partitionBy("user_id")).alias("first_wk"),
    )
    state = (
        F.when(F.col("week") == F.col("first_wk"), "new")
        .when(
            F.col("prev_wk") == F.col("week") - F.expr("INTERVAL 7 DAY"),
            "retained",
        )
        .otherwise("resurrected")
    )
    weekly = hist.select("week", state.alias("state")).groupBy("week").agg(
        F.count(F.lit(1)).cast("bigint").alias("active"),
        F.count(F.when(F.col("state") == "new", 1))
        .cast("bigint")
        .alias("new_users"),
        F.count(F.when(F.col("state") == "retained", 1))
        .cast("bigint")
        .alias("retained"),
        F.count(F.when(F.col("state") == "resurrected", 1))
        .cast("bigint")
        .alias("resurrected"),
    )
    ww = W.partitionBy().orderBy("week")
    return weekly.select(
        "week",
        "active",
        "new_users",
        "retained",
        "resurrected",
        (
            F.coalesce(F.lag("active").over(ww), F.lit(0)) - F.col("retained")
        ).alias("churned_from_prev"),
    )


# --------------------------------------------------------------------------
# Hour-of-week load profile
# --------------------------------------------------------------------------
@query(
    "events_hour_dow_profile",
    oracle="""
    WITH c AS (
      SELECT dayofweek(ts) AS dow, hour(ts) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY dow, hr
    )
    SELECT CAST(dow AS BIGINT) AS dow,
           CAST(hr AS BIGINT) AS hour_of_day,
           n AS n_events,
           round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY dow), 6)
             AS share_of_day,
           round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS share_of_week
    FROM c
    """,
)
def events_hour_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week load heatmap: event counts per (day-of-week,
    hour) cell with the cell's share of its day and of the whole
    week — the capacity-planning profile behind autoscaling
    schedules and on-call staffing. One 168-cell rollup + window
    shares. Spark dayofweek is 1=Sunday..7=Saturday vs DuckDB's
    0=Sunday — the Spark side subtracts 1 to align. Ref: reference
    load-profile tests (cf. events_seasonality, ts_periodogram)."""
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy(
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hour_of_day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    wd = W.partitionBy("dow")
    wall = W.partitionBy()
    return c.select(
        "dow",
        "hour_of_day",
        "n_events",
        F.round(
            F.col("n_events").cast("double") / F.sum("n_events").over(wd), 6
        ).alias("share_of_day"),
        F.round(
            F.col("n_events").cast("double") / F.sum("n_events").over(wall), 6
        ).alias("share_of_week"),
    )
