"""Contract keys: ``ts_clamped_cumsum``, ``ts_croston``,
``orders_busday_lag``.

Clamped running balances, intermittent-demand
forecasting, and business-day arithmetic.

Reference parity: the reference's stateful-fold operators (running
balances with floors, Croston-style smoothing) and calendar-aware lag
metrics — re-expressed as strict ordered folds over per-group sorted
arrays (bit-identical IEEE op order on both engines) and pure integer
closed forms.

Scale notes:

- ``ts_clamped_cumsum``: the clamp max(0, bal+x) is NON-LINEAR, so no
  window prefix-sum can express it — it's a per-group strict fold.
  The fold runs AFTER a daily rollup, so each group's array is
  |days|, not |fact rows|; groups fold independently (embarrassingly
  parallel across suppliers at 100 TB).
- ``ts_croston``: two scalar EWMA folds (demand sizes, inter-demand
  intervals) per sparse series; the fact-side work is one rollup +
  one lag window. Croston only touches NONZERO demand days, so the
  fold length is the demand count, not the calendar length.
- ``orders_busday_lag``: business-day distance via a cumulative
  business-day closed form (5·⌊t/7⌋ + min(t mod 7, 5) anchored on an
  epoch Monday) — integer-exact, no per-day explode, no calendar
  table join; the whole key is one fact join + one aggregation.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6

_CROSTON_A = 0.2  # smoothing constant for both size and interval


# --------------------------------------------------------------------------
# Clamped (floored-at-zero) running inventory balance per supplier
# --------------------------------------------------------------------------
@query(
    "ts_clamped_cumsum",
    oracle="""
    WITH daily AS (
      SELECT l_suppkey AS sk, date_trunc('day', l_shipdate) AS day,
             sum(CASE WHEN l_linestatus = 'O' THEN l_quantity
                      ELSE -l_quantity END) AS net
      FROM lineitem GROUP BY sk, day
    ),
    arrs AS (
      SELECT sk, len(list(net)) AS n_days,
             list_reduce(
               array_concat([[CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                              CAST(0.0 AS DOUBLE)]],
                            list_transform(list(net ORDER BY day),
                                           x -> [x, CAST(0.0 AS DOUBLE),
                                                 CAST(0.0 AS DOUBLE)])),
               (acc, el) -> [
                 greatest(acc[1] + el[1], 0.0),
                 greatest(acc[2], greatest(acc[1] + el[1], 0.0)),
                 acc[3] + CASE WHEN acc[1] + el[1] < 0.0
                               THEN 1.0 ELSE 0.0 END]) AS s
      FROM daily GROUP BY sk
    )
    SELECT sk AS suppkey,
           CAST(n_days AS BIGINT) AS n_days,
           floor(s[1] * 1000000 + 0.5) / 1000000 AS final_balance,
           floor(s[2] * 1000000 + 0.5) / 1000000 AS peak_balance,
           CAST(s[3] AS BIGINT) AS stockout_days
    FROM arrs
    """,
)
def ts_clamped_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running inventory balance per supplier with a hard floor at
    zero: receipts (+qty for open lines) minus shipments (−qty for
    finalized lines) folded day by day as bal ← max(0, bal + net).
    The clamp makes the recurrence non-linear — no window prefix sum
    expresses it — so it's a strict left fold over each supplier's
    ordered daily series with a [balance, peak, stockout-days]
    accumulator (identical IEEE op order both engines; DuckDB rides
    the init state as a prepended list element). The fold runs on the
    daily ROLLUP, so its length is days-per-supplier, and suppliers
    fold in parallel. Ref: reference stateful-scan operator tests."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_suppkey").alias("sk"),
        F.date_trunc("day", F.col("l_shipdate")).alias("day"),
    ).agg(
        F.sum(
            F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(
                -F.col("l_quantity")
            )
        ).alias("net")
    )
    arrs = daily.groupBy("sk").agg(
        F.array_sort(F.collect_list(F.struct("day", "net"))).alias("sv")
    )
    xs = F.col("sv.net")
    zero = F.lit(0.0).cast("double")
    state = F.aggregate(
        xs,
        F.struct(zero.alias("bal"), zero.alias("peak"), zero.alias("stock")),
        lambda acc, x: F.struct(
            F.greatest(acc.bal + x, F.lit(0.0)).alias("bal"),
            F.greatest(acc.peak, F.greatest(acc.bal + x, F.lit(0.0))).alias(
                "peak"
            ),
            (
                acc.stock
                + F.when(acc.bal + x < 0.0, F.lit(1.0)).otherwise(F.lit(0.0))
            ).alias("stock"),
        ),
    )
    return arrs.select(
        F.col("sk").alias("suppkey"),
        F.size(xs).cast("bigint").alias("n_days"),
        q6(state.bal).alias("final_balance"),
        q6(state.peak).alias("peak_balance"),
        state.stock.cast("bigint").alias("stockout_days"),
    )


# --------------------------------------------------------------------------
# Croston's method for intermittent demand per (brand, size) sku group
# --------------------------------------------------------------------------
@query(
    "ts_croston",
    oracle=f"""
    WITH daily AS (
      SELECT p.p_brand AS brand, p.p_size AS psize,
             date_trunc('day', l.l_shipdate) AS day,
             sum(l.l_quantity) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_size <= 10
      GROUP BY brand, psize, day
    ),
    lagged AS (
      SELECT brand, psize, day, qty,
             date_diff('day',
                       lag(day) OVER (PARTITION BY brand, psize
                                      ORDER BY day),
                       day) AS gap
      FROM daily
    ),
    arrs AS (
      SELECT brand, psize,
             count(*) AS n_demands,
             list(qty ORDER BY day) AS sizes,
             list(CAST(gap AS DOUBLE) ORDER BY day) FILTER (gap IS NOT NULL)
               AS gaps
      FROM lagged GROUP BY brand, psize
    ),
    st AS (
      SELECT brand, psize, n_demands,
             list_reduce(sizes,
               (acc, x) -> x * {_CROSTON_A} + acc * {1 - _CROSTON_A}) AS z,
             list_reduce(gaps,
               (acc, x) -> x * {_CROSTON_A} + acc * {1 - _CROSTON_A}) AS p
      FROM arrs WHERE len(gaps) >= 1
    )
    SELECT brand, psize,
           CAST(n_demands AS BIGINT) AS n_demands,
           floor(z * 1000000 + 0.5) / 1000000 AS smoothed_size,
           floor(p * 1000000 + 0.5) / 1000000 AS smoothed_interval,
           floor(z / p * 1000000 + 0.5) / 1000000 AS croston_rate,
           floor(z / p * {1 - _CROSTON_A / 2} * 1000000 + 0.5) / 1000000
             AS sba_rate
    FROM st
    """,
)
def ts_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's intermittent-demand forecast per (brand, size) SKU
    group: EWMA of nonzero demand SIZES and of the INTERVALS between
    demand days (α=0.2, init = first observation — exactly what
    list_reduce's first-element-as-init gives for free), forecast
    rate = z/p plus the Syntetos-Boylan (1−α/2) bias correction.
    Zero-demand days never materialize: the rollup only emits demand
    days, intervals come from one lag window, and the two scalar
    folds are length |demands|, not |calendar|. Ref: reference
    forecasting-op tests (cf. ts_holt for the dense-series twin)."""
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    daily = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_size").alias("psize"),
            F.date_trunc("day", F.col("l_shipdate")).alias("day"),
        )
        .agg(F.sum("l_quantity").alias("qty"))
    )
    wlag = W.partitionBy("brand", "psize").orderBy("day")
    lagged = daily.withColumn(
        "gap",
        F.datediff(F.col("day").cast("date"), F.lag("day").over(wlag).cast("date")),
    )
    arrs = lagged.groupBy("brand", "psize").agg(
        F.count(F.lit(1)).alias("n_demands"),
        F.array_sort(F.collect_list(F.struct("day", "qty"))).alias("sv"),
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("gap").isNotNull(),
                    F.struct("day", F.col("gap").cast("double").alias("gap")),
                )
            )
        ).alias("gv"),
    )
    sizes = F.col("sv.qty")
    gaps = F.col("gv.gap")
    a, one_m_a = F.lit(_CROSTON_A), F.lit(1 - _CROSTON_A)
    fold = lambda xs: F.aggregate(
        F.slice(xs, 2, F.size(xs) - 1),
        F.element_at(xs, 1),
        lambda acc, x: x * a + acc * one_m_a,
    )
    st = (
        arrs.filter(F.size(gaps) >= 1)
        .withColumn("z", fold(sizes))
        .withColumn("p", fold(gaps))
    )
    return st.select(
        "brand",
        "psize",
        F.col("n_demands").cast("bigint").alias("n_demands"),
        q6(F.col("z")).alias("smoothed_size"),
        q6(F.col("p")).alias("smoothed_interval"),
        q6(F.col("z") / F.col("p")).alias("croston_rate"),
        q6(F.col("z") / F.col("p") * F.lit(1 - _CROSTON_A / 2)).alias("sba_rate"),
    )


# --------------------------------------------------------------------------
# Business-day order→ship lag per order priority
# --------------------------------------------------------------------------
@query(
    "orders_busday_lag",
    oracle="""
    WITH j AS (
      SELECT o.o_orderpriority AS prio,
             date_diff('day', DATE '1970-01-05', CAST(o.o_orderdate AS DATE))
               AS t0,
             date_diff('day', DATE '1970-01-05', CAST(l.l_shipdate AS DATE))
               AS t1
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    biz AS (
      SELECT prio,
             (5 * CAST(floor(t1 / 7.0) AS BIGINT)
              + least(t1 - 7 * CAST(floor(t1 / 7.0) AS BIGINT), 5))
             - (5 * CAST(floor(t0 / 7.0) AS BIGINT)
                + least(t0 - 7 * CAST(floor(t0 / 7.0) AS BIGINT), 5))
               AS busdays
      FROM j
    )
    SELECT prio AS o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(min(busdays) AS BIGINT) AS min_busdays,
           CAST(max(busdays) AS BIGINT) AS max_busdays,
           round(avg(busdays), 6) AS avg_busdays,
           round(CAST(count(*) FILTER (busdays <= 5) AS DOUBLE)
                 / count(*), 6) AS within_5bd
    FROM biz GROUP BY prio
    """,
)
def orders_busday_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship lag in BUSINESS days per order priority, via the
    cumulative-business-day closed form cum(d) = 5·⌊t/7⌋ + min(t mod
    7, 5) with t = days since an epoch Monday (1970-01-05): weekends
    drop out by subtraction, no calendar dimension table, no per-day
    explode, no engine-specific day-of-week numbering (the Spark
    1=Sunday vs DuckDB 0=Sunday trap never enters). Integer-exact;
    one join + one aggregation. Ref: reference calendar-function
    tests."""
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    epoch_mon = F.lit("1970-01-05").cast("date")
    t0 = F.datediff(F.col("o_orderdate").cast("date"), epoch_mon)
    t1 = F.datediff(F.col("l_shipdate").cast("date"), epoch_mon)

    def cum(t):
        full = F.floor(t / 7.0).cast("bigint")
        return 5 * full + F.least(t - 7 * full, F.lit(5).cast("bigint"))

    j = li.join(od, li.l_orderkey == od.o_orderkey).select(
        F.col("o_orderpriority").alias("prio"),
        (cum(t1) - cum(t0)).alias("busdays"),
    )
    return j.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.min("busdays").cast("bigint").alias("min_busdays"),
        F.max("busdays").cast("bigint").alias("max_busdays"),
        F.round(F.avg("busdays"), 6).alias("avg_busdays"),
        F.round(
            F.count(F.when(F.col("busdays") <= 5, 1)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("within_5bd"),
    )
