"""Contract keys: ``pipeline_incremental``, ``stats_runs_test``,
``ts_autocorr_k``.

Incremental high-watermark loading, randomness
testing, and autocorrelation profiles.

Scale notes:

- ``pipeline_incremental``: the classic warehouse incremental load —
  a standing snapshot plus a high-watermark delta merged by key; the
  ORACLE IS THE FULL RECOMPUTE (merge == reload invariance, the same
  discipline as ivm_merge). The delta scan is a pushed-down timestamp
  range predicate (partition-prunable on a date-partitioned lake);
  the merge is one anti-join + union, shuffling only the delta and
  the touched keys.
- ``stats_runs_test``: Wald-Wolfowitz runs test on the daily up/down
  move sequence per event type — sign extraction is one lag window
  inside the per-type calendar partition; runs/counts are exact
  integers.
- ``ts_autocorr_k``: the ACF profile (lags 1..7) of daily counts per
  type — each lag is an equi-join of the calendar table against
  itself ON day+lag (equi-key lookup, no range scan); the Pearson
  closed form per (type, lag) reduces from |days| rows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

# High-watermark cutoff for the incremental-load scenario: orders
# strictly before the watermark are the standing snapshot, the rest
# arrive as the delta batch.
_WATERMARK = "1997-01-01"

_ACF_MAX_LAG = 7


# --------------------------------------------------------------------------
# ETL — incremental high-watermark load (merge == full reload)
# --------------------------------------------------------------------------
@query(
    "pipeline_incremental",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue,
           max(o_orderdate) AS latest
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def pipeline_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental high-watermark load: the standing snapshot (orders
    before 1997-01-01) is merged with the delta batch (orders at or
    after it) by key — new keys insert, existing keys take the delta
    version — and the report over the merged table must equal the
    FULL RELOAD (the oracle is a plain scan of everything: merge ==
    reload invariance, same discipline as ivm_merge). The delta scan
    is a pushed-down timestamp range (partition-prunable on a
    date-partitioned lake); the merge is one left-anti join + union,
    so only the delta and touched snapshot keys shuffle — never the
    full history. Money in DECIMAL(18,2)."""
    from etl_framework_spark.operators.cdc import merge_upsert

    orders = table(spark, sf_dir, "orders")
    wm = F.lit(_WATERMARK).cast("timestamp")
    snapshot = orders.filter(F.col("o_orderdate") < wm)
    delta = orders.filter(F.col("o_orderdate") >= wm)
    merged = merge_upsert(snapshot, delta, "o_orderkey")
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        F.max("o_orderdate").alias("latest"),
    )


# --------------------------------------------------------------------------
# Stats — Wald-Wolfowitz runs test on daily up/down moves
# --------------------------------------------------------------------------
@query(
    "stats_runs_test",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, day
    ),
    moves AS (
      SELECT event_type, day,
             CASE WHEN n > lag(n) OVER (PARTITION BY event_type
                                        ORDER BY day) THEN 1
                  WHEN n < lag(n) OVER (PARTITION BY event_type
                                        ORDER BY day) THEN 0
             END AS up
      FROM daily
    ),
    m AS (SELECT event_type, day, up FROM moves WHERE up IS NOT NULL),
    runs AS (
      SELECT event_type,
             CAST(sum(CASE WHEN up IS DISTINCT FROM prev THEN 1 ELSE 0 END)
                  AS DOUBLE) AS r,
             CAST(sum(up) AS DOUBLE) AS n1,
             CAST(sum(1 - up) AS DOUBLE) AS n2
      FROM (SELECT event_type, up,
                   lag(up) OVER (PARTITION BY event_type ORDER BY day)
                     AS prev
            FROM m)
      GROUP BY event_type
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_up,
           CAST(n2 AS BIGINT) AS n_down,
           CAST(r AS BIGINT) AS n_runs,
           round((r - (2 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))), 6)
             AS z,
           abs((r - (2 * n1 * n2 / (n1 + n2) + 1))
               / sqrt(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                      / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))))
             > 1.959963984540054 AS nonrandom
    FROM runs
    """,
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on each event type's daily up/down
    move sequence — too FEW runs means trending/sticky, too MANY
    means oscillating; either rejects 'random fluctuation', the
    routine sanity check before fitting any forecast. Moves come from
    one lag window in the per-type calendar partition (flat days
    dropped); the run count is a lag-change sum and the z closed form
    uses only exact integer counts."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    wlag = W.partitionBy("event_type").orderBy("day")
    moves = daily.select(
        "event_type",
        "day",
        F.when(F.col("n") > F.lag("n").over(wlag), 1)
        .when(F.col("n") < F.lag("n").over(wlag), 0)
        .alias("up"),
    ).filter(F.col("up").isNotNull())
    seq = moves.select(
        "event_type",
        "up",
        F.lag("up").over(W.partitionBy("event_type").orderBy("day")).alias(
            "prev"
        ),
    )
    runs = seq.groupBy("event_type").agg(
        F.sum(
            F.when(
                ~F.col("up").eqNullSafe(F.col("prev")), 1
            ).otherwise(0)
        )
        .cast("double")
        .alias("r"),
        F.sum("up").cast("double").alias("n1"),
        F.sum(1 - F.col("up")).cast("double").alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = 2 * n1 * n2 / (n1 + n2) + 1
    sd = F.sqrt(
        2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
    )
    z = (r - mu) / sd
    return runs.select(
        "event_type",
        n1.cast("bigint").alias("n_up"),
        n2.cast("bigint").alias("n_down"),
        r.cast("bigint").alias("n_runs"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.959963984540054).alias("nonrandom"),
    )


# --------------------------------------------------------------------------
# TS — autocorrelation profile (ACF, lags 1..7) per event type
# --------------------------------------------------------------------------
@query(
    "ts_autocorr_k",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY event_type, day
    ),
    lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag),
    paired AS (
      SELECT a.event_type, l.lag, a.n AS x, b.n AS y
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day + to_days(CAST(l.lag AS INT))
    ),
    s AS (
      SELECT event_type, lag, CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
      FROM paired GROUP BY event_type, lag
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS acf
    FROM s
    """,
)
def ts_autocorr_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation profile: Pearson r between each event type's
    daily series and itself at lags 1..7 — the ACF row that exposes
    weekly seasonality (a lag-7 spike) and short-term stickiness
    before anyone fits a model. Each lag pairs the calendar-bounded
    daily table with itself via an equi-join on (type, day+lag) —
    an index-lookup shape, never a range scan; sums are exact
    integer products, so the statistic is order-independent."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("day").alias("day_b"),
        F.col("n").alias("y"),
    )
    paired = a.join(
        b,
        (F.col("et_b") == F.col("event_type"))
        # day is a midnight TIMESTAMP; add whole-day intervals (date_add
        # would silently downcast to DATE and break the equi-key).
        & (F.col("day_b") == F.expr("day + make_interval(0, 0, 0, lag)")),
    ).select("event_type", "lag", F.col("n").alias("x"), "y")
    s = paired.groupBy("event_type", "lag").agg(
        F.count("*").cast("double").alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("np")
    acf = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "event_type",
        F.col("lag").cast("bigint").alias("lag"),
        n.cast("bigint").alias("n_pairs"),
        F.round(acf, 6).alias("acf"),
    )
