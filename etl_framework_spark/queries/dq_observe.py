"""Contract keys: ``dq_observe_metrics``, ``dq_freshness``,
``events_new_vs_returning``.

In-flight pipeline metrics (observe), data
freshness audit, and the new-vs-returning daily split.

Scale notes:

- ``dq_observe_metrics``: Spark's Observation API rides metrics ON
  the existing action — accumulator-style, zero extra scans — which
  at 100 TB is the difference between free instrumentation and
  doubling the pipeline cost with audit queries. The contract output
  is the observed metric row itself, certified against an oracle
  that computes the same numbers the expensive way.
- ``dq_freshness``: one max(ts) rollup per type vs the global max —
  constant output; integer-microsecond lag arithmetic.
- ``events_new_vs_returning``: first-seen day per user (one rollup)
  joined back to the daily activity — two partial-agg shuffles, all
  integer counts.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import guarded
from etl_framework_spark.registry import query

_STALE_HOURS = 6


# --------------------------------------------------------------------------
# Observation API — audit metrics riding the action, no extra scan
# --------------------------------------------------------------------------
@query(
    "dq_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (l_discount > 0.05) AS BIGINT)
             AS n_high_discount,
           round(sum(l_extendedprice), 2) AS total_price,
           round(min(l_quantity), 6) AS min_qty,
           round(max(l_quantity), 6) AS max_qty
    FROM lineitem WHERE l_quantity > 10
    """,
)
def dq_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit metrics via Spark's Observation API: the data-quality
    counters (row count, predicate count, sum/min/max) are attached
    to the SAME scan the pipeline already runs — accumulator-style,
    collected as a side effect of one noop-sink action, with NO second
    pass over the data. At 100 TB this is how every production
    pipeline self-audits (Deequ-style) without doubling its cost;
    here the observed row is the contract output and the oracle
    recomputes the identical numbers the direct way, certifying the
    in-flight path. Reference family: the config-driven validation
    steps the original framework runs against its sinks."""
    from pyspark.sql import Observation

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 10)
    obs = Observation("dq")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias(
            "n_high_discount"
        ),
        F.sum("l_extendedprice").alias("total_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return guarded.local_frame(
        spark,
        [
            (
                int(m["n_rows"]),
                int(m["n_high_discount"]),
                float(m["total_price"]),
                float(m["min_qty"]),
                float(m["max_qty"]),
            )
        ],
        "n_rows BIGINT, n_high_discount BIGINT, total_price DOUBLE,"
        " min_qty DOUBLE, max_qty DOUBLE",
    ).select(
        "n_rows",
        "n_high_discount",
        F.round("total_price", 2).alias("total_price"),
        F.round("min_qty", 6).alias("min_qty"),
        F.round("max_qty", 6).alias("max_qty"),
    )


# --------------------------------------------------------------------------
# Freshness audit — per-stream staleness vs the newest data anywhere
# --------------------------------------------------------------------------
@query(
    "dq_freshness",
    oracle=f"""
    WITH per AS (
      SELECT event_type, max(ts) AS last_ts, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ),
    g AS (SELECT max(last_ts) AS global_max FROM per)
    SELECT event_type, last_ts, n AS n_events,
           round((epoch_us((SELECT global_max FROM g))
                  - epoch_us(last_ts)) / 3600000000.0, 6) AS hours_behind,
           (epoch_us((SELECT global_max FROM g)) - epoch_us(last_ts))
             > {_STALE_HOURS} * 3600000000 AS stale
    FROM per
    """,
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness audit: each event type's newest timestamp measured
    against the newest data ANYWHERE in the table — the deterministic
    formulation of the 'is this stream stale' check (lag vs wall
    clock is untestable; lag vs the freshest sibling stream catches
    exactly the broken-producer case). Lag arithmetic runs in integer
    microseconds (events.ts has sub-second precision — the epoch_us
    discipline from the round-3 gotcha list) and flags types more
    than {_STALE_HOURS}h behind. One rollup per type plus a scalar
    global max; constant output."""
    e = table(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"), F.count("*").cast("bigint").alias("n")
    )
    g = per.agg(F.max("last_ts").alias("global_max"))
    lag_us = F.unix_micros(
        F.col("global_max").cast("timestamp")
    ) - F.unix_micros(F.col("last_ts").cast("timestamp"))
    return per.crossJoin(F.broadcast(g)).select(
        "event_type",
        "last_ts",
        F.col("n").alias("n_events"),
        F.round(lag_us / 3600000000.0, 6).alias("hours_behind"),
        (lag_us > _STALE_HOURS * 3600000000).alias("stale"),
    )


# --------------------------------------------------------------------------
# New vs returning users per day — the acquisition/retention split
# --------------------------------------------------------------------------
@query(
    "events_new_vs_returning",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(date_trunc('day', ts)) AS first_day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT date_trunc('day', e.ts) AS day,
             CAST(count(DISTINCT e.user_id)
                  FILTER (date_trunc('day', e.ts) = f.first_day)
               AS BIGINT) AS new_users,
             CAST(count(DISTINCT e.user_id)
                  FILTER (date_trunc('day', e.ts) > f.first_day)
               AS BIGINT) AS returning_users
      FROM events e JOIN first_seen f ON f.user_id = e.user_id
      GROUP BY day
    )
    SELECT day, new_users, returning_users,
           round(CAST(returning_users AS DOUBLE)
                 / (new_users + returning_users), 6) AS returning_share
    FROM daily
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily split of active users into NEW (first day ever seen) vs
    RETURNING — the first chart on every growth dashboard, and the
    cheap leading indicator that acquisition or retention broke. The
    first-seen day per user is one rollup joined back to activity (at
    scale the join key is user_id — uniform, skew-free); distinct
    counts split by the new/returning predicate come from the same
    pass via conditional count-distinct. All integers; |days| output
    rows."""
    e = table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    tagged = e.join(first_seen, "user_id").select(
        F.date_trunc("day", "ts").alias("day"), "user_id", "first_day"
    )
    daily = tagged.groupBy("day").agg(
        F.countDistinct(
            F.when(F.col("day") == F.col("first_day"), F.col("user_id"))
        )
        .cast("bigint")
        .alias("new_users"),
        F.countDistinct(
            F.when(F.col("day") > F.col("first_day"), F.col("user_id"))
        )
        .cast("bigint")
        .alias("returning_users"),
    )
    return daily.select(
        "day",
        "new_users",
        "returning_users",
        F.round(
            F.col("returning_users").cast("double")
            / (F.col("new_users") + F.col("returning_users")),
            6,
        ).alias("returning_share"),
    )
