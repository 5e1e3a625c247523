"""Contract keys: ``agg_partial_merge``, ``cdc_bitemporal``,
``ts_ewma_irregular``.

Mergeable partial aggregates, bitemporal as-of,
and irregular-spacing EWMA.

Reference parity: the reference's two-phase aggregation contract
(partial states merged across shards), its bitemporal dimension
queries (valid time x transaction time), and its decay-weighted
stateful smoother — re-expressed as commutative-monoid rollups,
window-ranked snapshots, and strict time-decay folds.

Scale notes:

- ``agg_partial_merge``: the EXPLICIT version of what Catalyst's
  partial/final HashAggregate does implicitly — per-shard states
  (count, sum, sumsq, min, max) merge associatively, so shards never
  re-see raw rows. The state here is integer-valued (quantity sums
  < 2^53), so the merge is bit-exact in ANY order — the property
  that makes map-side combine safe at 100 TB.
- ``cdc_bitemporal``: each snapshot is one filter + one per-key
  window rank — no interval self-join; advancing transaction time
  only widens the filter, so both snapshots share the same scan.
- ``ts_ewma_irregular``: decay exp(-Δt/τ) depends on the actual gap,
  so no fixed-α window trick applies — a strict per-user fold over
  the time-sorted event list ([level, t] state); fold length is the
  user's event count, users fold in parallel.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6

_N_BUCKETS = 8  # simulated shards for the partial-merge contract
_TAU_S = 3600.0  # EWMA decay time constant (1 hour)
_VALID_AS_OF = "1996-06-01"  # valid-time point for bitemporal query
_TX_EARLY = "1996-06-05"  # early transaction-time snapshot
_TX_LATE = "1996-07-01"  # late transaction-time snapshot


# --------------------------------------------------------------------------
# Two-phase aggregation with explicit mergeable partial states
# --------------------------------------------------------------------------
@query(
    "agg_partial_merge",
    oracle=f"""
    WITH p AS (
      SELECT l_returnflag AS f, l_suppkey % {_N_BUCKETS} AS bucket,
             CAST(count(*) AS DOUBLE) AS cnt,
             sum(l_quantity) AS s,
             sum(l_quantity * l_quantity) AS ss,
             min(l_quantity) AS mn, max(l_quantity) AS mx
      FROM lineitem GROUP BY f, bucket
    )
    SELECT f AS l_returnflag,
           CAST(count(*) AS BIGINT) AS n_partials,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           round(sum(s) / sum(cnt), 6) AS mean_qty,
           round((sum(ss) - sum(s) * sum(s) / sum(cnt))
                 / (sum(cnt) - 1), 6) AS var_qty,
           min(mn) AS min_qty, max(mx) AS max_qty
    FROM p GROUP BY f
    """,
)
def agg_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit two-phase aggregation: phase 1 computes per-shard
    partial states (count, sum, sum-of-squares, min, max of quantity
    per return flag, sharded by supplier hash), phase 2 MERGES the
    states and derives mean/variance from the merged sums — the
    commutative-monoid contract that lets 1000 executors aggregate
    without re-seeing rows, written out instead of left to Catalyst's
    partial/final HashAggregate. Quantity is integer-valued, so every
    state component is exact in a double and the merge is bit-exact
    in any order (the unit test asserts merge == direct). Ref:
    reference shard-merge aggregation tests."""
    li = table(spark, sf_dir, "lineitem")
    p = li.groupBy(
        F.col("l_returnflag").alias("f"),
        (F.col("l_suppkey") % _N_BUCKETS).alias("bucket"),
    ).agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        F.sum("l_quantity").alias("s"),
        F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("ss"),
        F.min("l_quantity").alias("mn"),
        F.max("l_quantity").alias("mx"),
    )
    return p.groupBy(F.col("f").alias("l_returnflag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_partials"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.round(F.sum("s") / F.sum("cnt"), 6).alias("mean_qty"),
        F.round(
            (F.sum("ss") - F.sum("s") * F.sum("s") / F.sum("cnt"))
            / (F.sum("cnt") - 1),
            6,
        ).alias("var_qty"),
        F.min("mn").alias("min_qty"),
        F.max("mx").alias("max_qty"),
    )


# --------------------------------------------------------------------------
# Bitemporal (valid-time x transaction-time) as-of snapshots
# --------------------------------------------------------------------------
@query(
    "cdc_bitemporal",
    oracle=f"""
    WITH versions AS (
      SELECT o_custkey AS cust, o_orderkey AS version_id,
             CAST(o_orderdate AS DATE) AS valid_from,
             CAST(o_orderdate AS DATE)
               + CAST(o_orderkey % 30 AS INTEGER) AS recorded_on,
             o_totalprice AS attr
      FROM orders
    ),
    snaps AS (
      SELECT 'early' AS snapshot, DATE '{_TX_EARLY}' AS tx
      UNION ALL
      SELECT 'late' AS snapshot, DATE '{_TX_LATE}' AS tx
    ),
    visible AS (
      SELECT s.snapshot, v.*
      FROM versions v JOIN snaps s
        ON v.valid_from <= DATE '{_VALID_AS_OF}' AND v.recorded_on <= s.tx
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY snapshot, cust
               ORDER BY valid_from DESC, recorded_on DESC, version_id DESC)
               AS rk,
             count(*) OVER (PARTITION BY snapshot, cust) AS n_visible
      FROM visible
    )
    SELECT snapshot, cust, version_id,
           CAST(valid_from AS TIMESTAMP) AS valid_from,
           CAST(recorded_on AS TIMESTAMP) AS recorded_on,
           round(attr, 2) AS attr,
           CAST(n_visible AS BIGINT) AS n_visible
    FROM ranked WHERE rk = 1
    """,
)
def cdc_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of: each order is a VERSION of its customer's
    record with a valid-from date (order date) and a LATER recording
    date (simulated ingest lag of orderkey%30 days). For a fixed
    valid-time point, two transaction-time snapshots ('what did we
    believe on Jun 5 vs Jul 1') pick, per customer, the latest valid
    version among those already recorded — late-arriving versions
    change the answer as tx time advances while valid time stands
    still, which is exactly the reproducible-backfill property
    bitemporal models buy. One shared scan; each snapshot is a
    filter + per-key window rank, no interval self-join. Ref:
    reference bitemporal/CDC tests (cf. cdc_scd2, scd2_asof_lookup)."""
    od = table(spark, sf_dir, "orders")
    versions = od.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("version_id"),
        F.col("o_orderdate").cast("date").alias("valid_from"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (F.col("o_orderkey") % 30).cast("int"),
        ).alias("recorded_on"),
        F.col("o_totalprice").alias("attr"),
    ).filter(F.col("valid_from") <= F.lit(_VALID_AS_OF).cast("date"))

    def snap(label: str, tx: str) -> DataFrame:
        vis = versions.filter(
            F.col("recorded_on") <= F.lit(tx).cast("date")
        ).withColumn("snapshot", F.lit(label))
        wk = W.partitionBy("snapshot", "cust").orderBy(
            F.desc("valid_from"), F.desc("recorded_on"), F.desc("version_id")
        )
        return (
            vis.withColumn("rk", F.row_number().over(wk))
            .withColumn(
                "n_visible",
                F.count(F.lit(1)).over(W.partitionBy("snapshot", "cust")),
            )
            .filter(F.col("rk") == 1)
            .select(
                "snapshot",
                "cust",
                "version_id",
                F.col("valid_from").cast("timestamp").alias("valid_from"),
                F.col("recorded_on").cast("timestamp").alias("recorded_on"),
                F.round("attr", 2).alias("attr"),
                F.col("n_visible").cast("bigint").alias("n_visible"),
            )
        )

    return snap("early", _TX_EARLY).unionAll(snap("late", _TX_LATE))


# --------------------------------------------------------------------------
# Irregular-spacing EWMA (decay by actual elapsed time) per user
# --------------------------------------------------------------------------
@query(
    "ts_ewma_irregular",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t,
             value AS v, event_id
      FROM events
    ),
    arrs AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(max(t) - min(t) AS BIGINT) AS span_s,
             list([CAST(v AS DOUBLE), CAST(t AS DOUBLE)]
                  ORDER BY t, event_id) AS xs
      FROM seq GROUP BY user_id
    ),
    st AS (
      SELECT user_id, n_events, span_s,
             list_reduce(xs, (acc, el) -> [
               acc[1] * exp(-(el[2] - acc[2]) / {_TAU_S})
                 + el[1] * (1 - exp(-(el[2] - acc[2]) / {_TAU_S})),
               el[2]]) AS s
      FROM arrs
    )
    SELECT user_id, n_events, span_s,
           floor(s[1] * 1000000 + 0.5) / 1000000 AS ewma_value
    FROM st
    """,
)
def ts_ewma_irregular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay EWMA over IRREGULARLY spaced events: each step
    weights the old level by exp(-Δt/τ) with Δt the ACTUAL gap to the
    previous event (τ = 1 h) — the smoother that treats a 10-second
    burst and a 2-day silence honestly, where fixed-α EWMAs
    (win_ewma) can't. Gap-dependent decay breaks every window trick,
    so it's a strict per-user left fold over the time-sorted list
    with a [level, last_t] accumulator (identical IEEE op order both
    engines; first element doubles as the init state). Fold length =
    per-user event count; users fold in parallel. Ref: reference
    decay-smoother tests."""
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("t"),
        F.col("value").alias("v"),
        "event_id",
    )
    arrs = seq.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max("t") - F.min("t")).cast("bigint").alias("span_s"),
        F.array_sort(F.collect_list(F.struct("t", "event_id", "v"))).alias("sv"),
    )
    first = F.element_at(F.col("sv"), 1)
    init = F.struct(
        first["v"].cast("double").alias("l"),
        first["t"].cast("double").alias("tt"),
    )
    state = F.aggregate(
        F.slice(F.col("sv"), 2, F.size(F.col("sv")) - 1),
        init,
        lambda acc, el: F.struct(
            (
                acc["l"] * F.exp(-(el["t"].cast("double") - acc["tt"]) / _TAU_S)
                + el["v"]
                * (
                    1
                    - F.exp(-(el["t"].cast("double") - acc["tt"]) / _TAU_S)
                )
            ).alias("l"),
            el["t"].cast("double").alias("tt"),
        ),
    )
    return arrs.select(
        "user_id", "n_events", "span_s", q6(state["l"]).alias("ewma_value")
    )
