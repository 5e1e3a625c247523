"""Contract keys: ``events_type_cooccurrence``, ``dq_partition_checksum``,
``stats_conformal_interval``.

Temporal type co-occurrence, partition
checksums, and split-conformal intervals.

Reference parity: the reference's temporal-basket analysis, its
replication-audit fingerprints, and its distribution-free interval
calibration — re-expressed as minute-bucket pair lift, commutative
arithmetic checksums, and a calibration/holdout quantile split.

Scale notes:

- ``events_type_cooccurrence``: (user, minute) baskets bound the
  pair fanout to |types|² per basket; lift denominators are
  re-aggregations of the basket rollup.
- ``dq_partition_checksum``: the checksum is a SUM of per-row
  hashes mod p — commutative and associative, so each partition
  fingerprints independently and any subset's checksum is the sum
  of its parts: replicas diff by comparing |days| numbers, not
  rows.
- ``stats_conformal_interval``: split conformal needs one
  calibration quantile per group and one holdout count — two
  passes, no model refitting, and the coverage guarantee is
  distribution-free.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_HASH_P = 1000000007
_CONF_Q = 0.9


# --------------------------------------------------------------------------
# Temporal co-occurrence lift between event types (user-minute baskets)
# --------------------------------------------------------------------------
@query(
    "events_type_cooccurrence",
    oracle="""
    WITH basket AS (
      SELECT DISTINCT user_id,
             date_trunc('minute', ts) AS minute_b,
             event_type
      FROM events
    ),
    nb AS (SELECT CAST(count(DISTINCT (user_id, minute_b)) AS DOUBLE) AS n
           FROM basket),
    tc AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS c
      FROM basket GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS t1, b.event_type AS t2,
             CAST(count(*) AS DOUBLE) AS c12
      FROM basket a JOIN basket b
        ON a.user_id = b.user_id AND a.minute_b = b.minute_b
       AND a.event_type < b.event_type
      GROUP BY t1, t2
    )
    SELECT t1, t2,
           CAST(c12 AS BIGINT) AS n_cobaskets,
           round(c12 * nb.n / (ca.c * cb.c), 6) AS lift
    FROM pairs
    JOIN tc ca ON pairs.t1 = ca.event_type
    JOIN tc cb ON pairs.t2 = cb.event_type
    CROSS JOIN nb
    """,
)
def events_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal basket lift between event types: treating each
    (user, minute) as a basket, lift(t1,t2) = P(both)/P(t1)P(t2) —
    lift > 1 means the types fire together in time (a click-purchase
    tie, an error-retry loop), the temporal sibling of market-basket
    lift. Baskets bound the pair join (same user AND same minute —
    never a global pair scan); marginals re-aggregate the basket
    rollup. Ref: reference temporal-association tests (cf.
    basket_lift, events_markov)."""
    ev = table(spark, sf_dir, "events")
    basket = ev.select(
        "user_id",
        F.date_trunc("minute", F.col("ts")).alias("minute_b"),
        "event_type",
    ).distinct()
    nb = basket.select("user_id", "minute_b").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    tc = basket.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    a = basket.select(
        "user_id", "minute_b", F.col("event_type").alias("t1")
    )
    b = basket.select(
        "user_id", "minute_b", F.col("event_type").alias("t2")
    )
    pairs = (
        a.join(b, ["user_id", "minute_b"])
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).cast("double").alias("c12"))
    )
    ca = tc.select(F.col("event_type").alias("t1"), F.col("c").alias("c1"))
    cb = tc.select(F.col("event_type").alias("t2"), F.col("c").alias("c2"))
    return (
        pairs.join(F.broadcast(ca), "t1")
        .join(F.broadcast(cb), "t2")
        .crossJoin(F.broadcast(nb))
        .select(
            "t1",
            "t2",
            F.col("c12").cast("bigint").alias("n_cobaskets"),
            F.round(
                F.col("c12") * F.col("n") / (F.col("c1") * F.col("c2")), 6
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Commutative per-partition checksums for replication audits
# --------------------------------------------------------------------------
@query(
    "dq_partition_checksum",
    oracle=f"""
    WITH h AS (
      SELECT date_trunc('day', ts) AS day,
             ((event_id % 1000000007) * 2654435761 + user_id * 40503
              + CAST(floor(value * 100) AS BIGINT)) % {_HASH_P} AS hv
      FROM events
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(hv) % {_HASH_P} AS BIGINT) AS checksum,
           CAST(min(hv) AS BIGINT) AS min_hash,
           CAST(max(hv) AS BIGINT) AS max_hash
    FROM h GROUP BY day
    """,
)
def dq_partition_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day replication fingerprints: every row hashes its key
    columns arithmetically and each day's checksum is the SUM of row
    hashes mod p — commutative and associative, so partitions
    fingerprint independently, order never matters, and a replica
    diff is |days| integer comparisons instead of a row-level join.
    Min/max hashes ride along as cheap corruption hints. The hash is
    pure integer arithmetic so ANY engine (not just these two)
    reproduces it — that's the point of an audit checksum. Ref:
    reference replication-audit tests (cf. sink_roundtrip_parquet,
    dq_freshness)."""
    ev = table(spark, sf_dir, "events")
    hv = (
        (F.col("event_id") % 1000000007) * 2654435761
        + F.col("user_id") * 40503
        + F.floor(F.col("value") * 100).cast("bigint")
    ) % _HASH_P
    h = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"), hv.alias("hv")
    )
    return h.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.sum("hv") % _HASH_P).cast("bigint").alias("checksum"),
        F.min("hv").cast("bigint").alias("min_hash"),
        F.max("hv").cast("bigint").alias("max_hash"),
    )


# --------------------------------------------------------------------------
# Split-conformal prediction intervals with measured holdout coverage
# --------------------------------------------------------------------------
@query(
    "stats_conformal_interval",
    oracle=f"""
    WITH e AS (
      SELECT event_type, value,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t
      FROM events
    ),
    w AS (SELECT min(t) AS e0, max(t) AS e1 FROM e),
    lab AS (
      SELECT event_type, value,
             CAST(t AS DOUBLE)
               < (CAST(e0 AS DOUBLE) + CAST(e1 AS DOUBLE)) / 2 AS calib
      FROM e, w
    ),
    mu AS (
      SELECT event_type, avg(value) AS m
      FROM lab WHERE calib GROUP BY event_type
    ),
    qh AS (
      SELECT lab.event_type,
             quantile_cont(abs(lab.value - mu.m), {_CONF_Q}) AS qhat,
             CAST(count(*) AS BIGINT) AS n_calib
      FROM lab JOIN mu ON lab.event_type = mu.event_type
      WHERE lab.calib GROUP BY lab.event_type
    )
    SELECT lab.event_type, qh.n_calib,
           CAST(count(*) AS BIGINT) AS n_holdout,
           round(max(mu.m), 6) AS center,
           round(max(qh.qhat), 6) AS half_width,
           round(CAST(count(*) FILTER (abs(lab.value - mu.m) <= qh.qhat)
                      AS DOUBLE) / count(*), 6) AS holdout_coverage
    FROM lab
    JOIN mu ON lab.event_type = mu.event_type
    JOIN qh ON lab.event_type = qh.event_type
    WHERE NOT lab.calib
    GROUP BY lab.event_type, qh.n_calib
    """,
)
def stats_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals: calibrate on the first
    half of the window (center = calibration mean per type,
    half-width = 90th percentile of absolute calibration residuals),
    then MEASURE coverage on the untouched second half — conformal's
    distribution-free promise is holdout coverage ≈ 90% regardless
    of the value distribution, and this key checks it empirically.
    Two passes (calibration rollup + holdout count), no model
    refits. Ref: reference interval-calibration tests (cf.
    stats_bootstrap_ci, events_forecast_backtest)."""
    ev = table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        "value",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("t"),
    )
    w = e.agg(F.min("t").alias("e0"), F.max("t").alias("e1"))
    lab = e.crossJoin(F.broadcast(w)).select(
        "event_type",
        "value",
        (
            F.col("t").cast("double")
            < (F.col("e0").cast("double") + F.col("e1").cast("double")) / 2
        ).alias("calib"),
    )
    mu = (
        lab.filter(F.col("calib"))
        .groupBy("event_type")
        .agg(F.avg("value").alias("m"))
    )
    qh = (
        lab.filter(F.col("calib"))
        .join(F.broadcast(mu), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("m")), _CONF_Q).alias(
                "qhat"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_calib"),
        )
    )
    hold = (
        lab.filter(~F.col("calib"))
        .join(F.broadcast(mu), "event_type")
        .join(F.broadcast(qh), "event_type")
    )
    return hold.groupBy("event_type", "n_calib").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_holdout"),
        F.round(F.max("m"), 6).alias("center"),
        F.round(F.max("qhat"), 6).alias("half_width"),
        F.round(
            F.count(
                F.when(
                    F.abs(F.col("value") - F.col("m")) <= F.col("qhat"), 1
                )
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("holdout_coverage"),
    ).select(
        "event_type",
        "n_calib",
        "n_holdout",
        "center",
        "half_width",
        "holdout_coverage",
    )
