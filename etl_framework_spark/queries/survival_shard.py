"""Contract keys: ``events_kaplan_meier``, ``shard_rendezvous``,
``orders_backlog_aging``.

Censoring-aware survival, rendezvous sharding,
and backlog aging.

Reference parity: the reference's survival-curve operator (with
right-censoring), its consistent-shard-assignment utility, and its
open-order aging report — re-expressed as ordered cumulative windows,
argmax-over-hash expressions, and conditional bucketing.

Scale notes:

- ``events_kaplan_meier``: the KM product Π(1-d/n) turns into
  exp(cumsum(ln(1-d/n))) over the per-lifetime rollup — one window
  over |distinct lifetimes| rows (≤ the observation span in days),
  regardless of user count; the fact-side work is one per-user agg.
- ``shard_rendezvous``: highest-random-weight hashing is pure
  row-local expression work (an 8-way argmax per row, no shuffle at
  all until the final count) — and the output QUANTIFIES the scale
  property that matters: adding a 9th shard moves ~1/9 of keys under
  HRW vs ~8/9 under mod-hashing.
- ``orders_backlog_aging``: the as-of date is a broadcast scalar;
  the report is one conditional aggregation over the open-order
  filter (which Parquet scan pruning serves from the status column).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_CENSOR_TAIL_D = 2  # last-activity within this of corpus end = censored
_N_SHARDS = 8
_HASH_P = 1000000007


# --------------------------------------------------------------------------
# Kaplan-Meier survival with right-censoring
# --------------------------------------------------------------------------
@query(
    "events_kaplan_meier",
    oracle=f"""
    WITH life AS (
      SELECT user_id,
             date_diff('day', CAST(date_trunc('day', min(ts)) AS DATE),
                       CAST(date_trunc('day', max(ts)) AS DATE)) AS t,
             date_diff('day', CAST(date_trunc('day', max(ts)) AS DATE),
                       (SELECT CAST(date_trunc('day', max(ts)) AS DATE)
                        FROM events)) < {_CENSOR_TAIL_D} AS censored
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT t,
             CAST(count(*) FILTER (NOT censored) AS DOUBLE) AS d,
             CAST(count(*) FILTER (censored) AS DOUBLE) AS c
      FROM life GROUP BY t
    ),
    r AS (
      SELECT t, d, c,
             (SELECT CAST(count(*) AS DOUBLE) FROM life)
               - coalesce(sum(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM g
    ),
    s AS (
      SELECT t, d, c, n_risk,
             exp(sum(CASE WHEN d > 0 THEN ln(1 - d / n_risk)
                          ELSE 0 END) OVER (ORDER BY t)) AS surv
      FROM r
    )
    SELECT CAST(t AS BIGINT) AS lifetime_days,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_churned,
           CAST(c AS BIGINT) AS n_censored,
           round(surv, 6) AS km_survival
    FROM s
    """,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of user lifetimes WITH right-censoring:
    users still active near the corpus end (last event < 2 days
    before it) are censored, not churned — they leave the risk set
    without counting as deaths, which is what separates KM from the
    naive decay curve (events_survival). S(t) = Π(1 - d/n) computed
    as exp(cumsum(ln ...)) over the per-lifetime rollup — one window
    over ≤31 rows however many users exist; censored users still
    shrink n_risk at their censor time. Ref: reference survival
    tests."""
    ev = table(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.datediff(
            F.date_trunc("day", F.max("ts")).cast("date"),
            F.date_trunc("day", F.min("ts")).cast("date"),
        ).alias("t"),
        F.date_trunc("day", F.max("ts")).cast("date").alias("last_day"),
    )
    end = ev.agg(F.date_trunc("day", F.max("ts")).cast("date").alias("end_day"))
    life = life.crossJoin(F.broadcast(end)).select(
        "t",
        (F.datediff(F.col("end_day"), F.col("last_day")) < _CENSOR_TAIL_D).alias(
            "censored"
        ),
    )
    g = life.groupBy("t").agg(
        F.count(F.when(~F.col("censored"), 1)).cast("double").alias("d"),
        F.count(F.when(F.col("censored"), 1)).cast("double").alias("c"),
    )
    total = life.agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    w_prev = (
        W.partitionBy()
        .orderBy("t")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_cum = W.partitionBy().orderBy("t")
    r = (
        g.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0.0)
            ),
        )
        .withColumn(
            "surv",
            F.exp(
                F.sum(
                    F.when(
                        F.col("d") > 0,
                        F.log(1 - F.col("d") / F.col("n_risk")),
                    ).otherwise(F.lit(0.0))
                ).over(w_cum)
            ),
        )
    )
    return r.select(
        F.col("t").cast("bigint").alias("lifetime_days"),
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_churned"),
        F.col("c").cast("bigint").alias("n_censored"),
        F.round("surv", 6).alias("km_survival"),
    )


# --------------------------------------------------------------------------
# Rendezvous (HRW) sharding vs mod-hashing churn
# --------------------------------------------------------------------------
def _hrw_list_sql(n: int) -> str:
    # NOTE: the shard term must MULTIPLY a per-doc residue — an
    # additive form is linear in s for a fixed doc, so the argmax
    # degenerates to the last shard for every key.
    return (
        f"list_transform(range(0, {n}), "
        f"s -> (((doc_id % 1000000007) * 2654435761 + 7) % {_HASH_P})"
        f" * (s * 40503 + 12345) % {_HASH_P})"
    )


@query(
    "shard_rendezvous",
    oracle=f"""
    WITH a AS (
      SELECT doc_id,
             list_indexof({_hrw_list_sql(_N_SHARDS)},
                          list_max({_hrw_list_sql(_N_SHARDS)})) - 1 AS hrw8,
             list_indexof({_hrw_list_sql(_N_SHARDS + 1)},
                          list_max({_hrw_list_sql(_N_SHARDS + 1)})) - 1 AS hrw9,
             doc_id % {_N_SHARDS} AS mod8,
             doc_id % {_N_SHARDS + 1} AS mod9
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (hrw8 <> hrw9) AS BIGINT) AS hrw_moved,
           round(CAST(count(*) FILTER (hrw8 <> hrw9) AS DOUBLE)
                 / count(*), 6) AS hrw_moved_frac,
           CAST(count(*) FILTER (mod8 <> mod9) AS BIGINT) AS mod_moved,
           round(CAST(count(*) FILTER (mod8 <> mod9) AS DOUBLE)
                 / count(*), 6) AS mod_moved_frac,
           CAST(count(DISTINCT hrw9) AS BIGINT) AS n_shards_used
    FROM a
    """,
)
def shard_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment and the
    reason to use it: when the shard count grows 8 → 9, HRW moves
    only the keys whose NEW shard wins the argmax (~1/9 of them),
    while mod-hashing reshuffles ~8/9 of the corpus — the difference
    between an incremental and a full rebalance at 100 TB. Assignment
    is an 8-way argmax of a deterministic integer hash, pure row-local
    expression work (ties → first index, identical both engines);
    the only shuffle is the final count. Ref: reference shard-router
    tests (cf. shard_manifest, train_split)."""
    docs = table(spark, sf_dir, "documents")

    def hl(n: int):
        return F.array(
            *[
                (((F.col("doc_id") % 1000000007) * 2654435761 + 7) % _HASH_P)
                * (s * 40503 + 12345)
                % _HASH_P
                for s in range(n)
            ]
        )

    a = docs.select(
        "doc_id",
        (F.array_position(hl(_N_SHARDS), F.array_max(hl(_N_SHARDS))) - 1).alias(
            "hrw8"
        ),
        (
            F.array_position(hl(_N_SHARDS + 1), F.array_max(hl(_N_SHARDS + 1)))
            - 1
        ).alias("hrw9"),
        (F.col("doc_id") % _N_SHARDS).alias("mod8"),
        (F.col("doc_id") % (_N_SHARDS + 1)).alias("mod9"),
    )
    return a.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(F.when(F.col("hrw8") != F.col("hrw9"), 1))
        .cast("bigint")
        .alias("hrw_moved"),
        F.round(
            F.count(F.when(F.col("hrw8") != F.col("hrw9"), 1)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("hrw_moved_frac"),
        F.count(F.when(F.col("mod8") != F.col("mod9"), 1))
        .cast("bigint")
        .alias("mod_moved"),
        F.round(
            F.count(F.when(F.col("mod8") != F.col("mod9"), 1)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mod_moved_frac"),
        F.countDistinct("hrw9").cast("bigint").alias("n_shards_used"),
    )


# --------------------------------------------------------------------------
# Open-order backlog aging report
# --------------------------------------------------------------------------
@query(
    "orders_backlog_aging",
    oracle="""
    WITH cutoff AS (SELECT CAST(max(o_orderdate) AS DATE) AS d FROM orders),
    open_o AS (
      SELECT date_diff('day', CAST(o_orderdate AS DATE), cutoff.d) AS age,
             o_totalprice
      FROM orders, cutoff WHERE o_orderstatus = 'O'
    ),
    b AS (
      SELECT CASE WHEN age <= 30 THEN '0:0-30d'
                  WHEN age <= 90 THEN '1:31-90d'
                  WHEN age <= 180 THEN '2:91-180d'
                  WHEN age <= 365 THEN '3:181-365d'
                  ELSE '4:365d+' END AS bucket,
             o_totalprice
      FROM open_o
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS backlog_value,
           round(CAST(count(*) AS DOUBLE)
                 / (SELECT count(*) FROM open_o), 6) AS pct_of_open
    FROM b GROUP BY bucket
    """,
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging as of the latest order date: how many
    still-open orders (and how much value) sit in each age bucket —
    the WIP report every ops review starts with. The as-of date is a
    broadcast scalar; the rest is one conditional-bucket aggregation
    over the status filter, which reaches the Parquet scan as a
    pushed predicate. Buckets carry a sort prefix so the report
    orders naturally. Ref: reference aging-report tests."""
    od = table(spark, sf_dir, "orders")
    asof = od.agg(F.max("o_orderdate").cast("date").alias("d"))
    open_o = (
        od.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(asof))
        .select(
            F.datediff(F.col("d"), F.col("o_orderdate").cast("date")).alias(
                "age"
            ),
            "o_totalprice",
        )
    )
    bucket = (
        F.when(F.col("age") <= 30, "0:0-30d")
        .when(F.col("age") <= 90, "1:31-90d")
        .when(F.col("age") <= 180, "2:91-180d")
        .when(F.col("age") <= 365, "3:181-365d")
        .otherwise("4:365d+")
    )
    tot = open_o.agg(F.count(F.lit(1)).cast("double").alias("n_open"))
    return (
        open_o.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("backlog_value"),
            F.count(F.lit(1)).cast("double").alias("_n"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_orders",
            "backlog_value",
            F.round(F.col("_n") / F.col("n_open"), 6).alias("pct_of_open"),
        )
    )
