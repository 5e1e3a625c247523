"""Contract keys: ``agg_weighted_median``, ``ts_interval_merge``.

Weighted order statistics and interval algebra.

Scale notes:

- ``agg_weighted_median``: the weighted median is an order statistic
  over the CUMULATIVE weight — one window pass over the per-nation
  partition of the (bounded) aggregated order list, never a global
  sort; exact DECIMAL weights make the cut-point deterministic.
- ``ts_interval_merge``: classic overlapping-interval merge
  (gaps-and-islands on the running max of interval ends) — per-user
  windows, output bounded by the merged-interval count; the
  foundation for on-time accounting, SLA coverage, and sessionized
  storage reclaim.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_framework_spark.cacheutil import persist_tracked
from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

# Each event opens a 30-minute activity interval; overlaps merge.
_IV_MINUTES = 30


# --------------------------------------------------------------------------
# Weighted median — revenue-weighted order value per nation
# --------------------------------------------------------------------------
@query(
    "agg_weighted_median",
    oracle="""
    WITH base AS (
      SELECT n.n_name AS nation,
             o.o_totalprice AS price,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS w,
             o.o_orderkey
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    cum AS (
      SELECT nation, price, o_orderkey,
             sum(w) OVER (PARTITION BY nation
                          ORDER BY price, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cw,
             sum(w) OVER (PARTITION BY nation) AS tw
      FROM base
    ),
    pick AS (
      SELECT nation, price,
             row_number() OVER (PARTITION BY nation
                                ORDER BY price, o_orderkey) AS rn
      FROM cum WHERE cw * 2 >= tw
    )
    SELECT c.nation,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(avg(c.price), 6) AS mean_price,
           round(max(p.price), 6) AS weighted_median_price
    FROM cum c
    JOIN pick p ON p.nation = c.nation AND p.rn = 1
    GROUP BY c.nation
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted median order value per nation — the order
    statistic where half the MONEY (not half the orders) sits on each
    side, i.e. where the cumulative DECIMAL weight first reaches half
    the total under a (price, orderkey) total order. Weighted
    quantiles are what price/latency dashboards actually need, and
    Spark has no built-in for them; here it is one cumulative window
    inside each nation's partition — exact decimal weights, no float
    cut-point ambiguity. Mean shown for the skew contrast."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("o_totalprice").alias("price"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("w"),
            "o_orderkey",
        )
    )
    wcum = (
        W.partitionBy("nation")
        .orderBy("price", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("nation")
    cum = base.select(
        "nation",
        "price",
        "o_orderkey",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wall).alias("tw"),
        # persist: cum feeds the median pick AND the final rollup —
        # unpersisted, both replayed the 3-table join and the two
        # cumulative windows (12 scans in the golden plan). One narrow
        # row per order.
    ).transform(persist_tracked)
    wpick = W.partitionBy("nation").orderBy("price", "o_orderkey")
    pick = (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .withColumn("rn", F.row_number().over(wpick))
        .filter(F.col("rn") == 1)
        .select("nation", F.col("price").alias("wm"))
    )
    return (
        cum.join(F.broadcast(pick), "nation")
        .groupBy("nation")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(F.avg("price"), 6).alias("mean_price"),
            F.round(F.max("wm"), 6).alias("weighted_median_price"),
        )
    )


# --------------------------------------------------------------------------
# Interval algebra — merge overlapping activity intervals per user
# --------------------------------------------------------------------------
@query(
    "ts_interval_merge",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, ts AS s,
             ts + INTERVAL {_IV_MINUTES} MINUTE AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_grp
      FROM iv
    ),
    grp AS (
      SELECT user_id, s, e,
             sum(new_grp) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS g
      FROM flagged
    ),
    merged AS (
      SELECT user_id, g, min(s) AS m_start, max(e) AS m_end,
             CAST(count(*) AS BIGINT) AS n_events
      FROM grp GROUP BY user_id, g
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum(epoch_us(m_end) - epoch_us(m_start)) AS BIGINT)
             AS covered_us,
           CAST(max(epoch_us(m_end) - epoch_us(m_start)) AS BIGINT)
             AS longest_us
    FROM merged GROUP BY user_id
    """,
)
def ts_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval merge (interval algebra's union): every
    event opens a 30-minute activity interval; touching/overlapping
    intervals coalesce into maximal ones via gaps-and-islands on the
    running max of interval ends — one window pass per user, no
    self-join. Reports per user the merged-interval count, covered
    wall-clock seconds (double-counting removed — what naive
    per-event summing gets wrong), and the longest stretch. All
    arithmetic on exact epoch integers."""
    ev = table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr(f"INTERVAL {_IV_MINUTES} MINUTES")).alias("e"),
    )
    wprev = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(F.col("s") > F.max("e").over(wprev), 1)
        .otherwise(0)
        .alias("new_grp"),
    )
    wg = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    grp = flagged.withColumn("g", F.sum("new_grp").over(wg))
    merged = grp.groupBy("user_id", "g").agg(
        F.min("s").alias("m_start"),
        F.max("e").alias("m_end"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    # microsecond epochs: events.ts carries sub-second precision, and
    # whole-second truncation would disagree with the oracle by ±1s
    # cast NTZ -> TIMESTAMP for unix_micros (session TZ pinned to UTC
    # by prep(), so the epoch is unambiguous)
    dur = F.unix_micros(F.col("m_end").cast("timestamp")) - F.unix_micros(
        F.col("m_start").cast("timestamp")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum(dur).cast("bigint").alias("covered_us"),
        F.max(dur).cast("bigint").alias("longest_us"),
    )
