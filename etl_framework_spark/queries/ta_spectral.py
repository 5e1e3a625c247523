"""Contract keys: ``ts_rsi``, ``ts_bollinger``, ``ts_spectral_entropy``.

Technical-analysis folds and spectral shape —
RSI (Wilder smoothing), Bollinger-band breaches, spectral entropy.

Reference parity: the reference's indicator/monitoring ops — momentum
(RSI), volatility-band breakouts (Bollinger), and the
one-number-seasonality-vs-noise probe (spectral entropy) — each
re-expressed as a daily/hourly rollup plus either a strict fold or a
trig aggregation.

Scale notes:

- The series is the DAILY (or hourly) rollup: at 100 TB the fold/
  window input is still |calendar| rows, not |fact| rows — the only
  full-data pass is the first groupBy.
- ``ts_rsi``: Wilder's smoothing is two scalar EWMA folds (gains,
  losses) with α=1/14 — same list_reduce/aggregate shape as
  ts_croston; integer daily sums → bit-exact cross-engine.
- ``ts_bollinger``: 20-day mean/σ from windowed Σx and Σx² of exact
  integer sums — no variance-algorithm mismatch possible.
- ``ts_spectral_entropy``: entropy of the normalized periodogram on
  the k=1..16 Fourier grid; powers are quantized BEFORE normalizing
  so both engines take log of the same double.
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6

_PI = repr(math.pi)
_RSI_A = 1.0 / 14.0  # Wilder's smoothing constant
_BB_W = 20  # Bollinger window (days)
_SE_K = 16  # Fourier frequencies for spectral entropy


# --------------------------------------------------------------------------
# RSI: Wilder-smoothed relative strength of daily shipped quantity
# --------------------------------------------------------------------------
@query(
    "ts_rsi",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day, sum(l_quantity) AS qty
      FROM lineitem GROUP BY day
    ),
    d AS (
      SELECT day,
             qty - lag(qty) OVER (ORDER BY day) AS diff
      FROM daily
    ),
    gl AS (
      SELECT day,
             CASE WHEN diff > 0 THEN CAST(diff AS DOUBLE) ELSE 0.0 END AS g,
             CASE WHEN diff < 0 THEN CAST(-diff AS DOUBLE) ELSE 0.0 END AS l
      FROM d WHERE diff IS NOT NULL
    ),
    arrs AS (
      SELECT CAST(count(*) AS BIGINT) AS n_diffs,
             CAST(sum(CASE WHEN g > 0 THEN 1 ELSE 0 END) AS BIGINT) AS up_days,
             list(g ORDER BY day) AS gs,
             list(l ORDER BY day) AS ls
      FROM gl
    ),
    st AS (
      SELECT n_diffs, up_days,
             list_reduce(gs,
               (acc, x) -> x * {_RSI_A} + acc * {1 - _RSI_A}) AS ag,
             list_reduce(ls,
               (acc, x) -> x * {_RSI_A} + acc * {1 - _RSI_A}) AS al
      FROM arrs
    )
    SELECT n_diffs, up_days,
           floor(ag * 1000000 + 0.5) / 1000000 AS avg_gain,
           floor(al * 1000000 + 0.5) / 1000000 AS avg_loss,
           floor((100.0 - 100.0 / (1.0 + ag / al)) * 1000000 + 0.5) / 1000000
             AS rsi
    FROM st
    """,
)
def ts_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index of the daily total-shipped-quantity
    series: Wilder's smoothing (EWMA, α=1/14, seeded by the first
    move — list_reduce's init-from-first) over day-over-day gains
    and losses separately, RSI = 100 − 100/(1+ḡ/l̄). Demand momentum
    in one number: >70 overheated, <30 collapsing. Daily sums are
    exact integers, so both engines fold identical doubles and the
    result is bit-exact. Ref: reference indicator-op tests (cf.
    ts_ewma_irregular, ts_croston for the fold family)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum("l_quantity").alias("qty")
    )
    d = daily.withColumn("diff", F.col("qty") - F.lag("qty").over(W.orderBy("day")))
    gl = d.filter(F.col("diff").isNotNull()).select(
        "day",
        F.when(F.col("diff") > 0, F.col("diff").cast("double"))
        .otherwise(0.0)
        .alias("g"),
        F.when(F.col("diff") < 0, (-F.col("diff")).cast("double"))
        .otherwise(0.0)
        .alias("l"),
    )
    arrs = gl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_diffs"),
        F.sum(F.when(F.col("g") > 0, 1).otherwise(0)).cast("bigint").alias("up_days"),
        F.array_sort(F.collect_list(F.struct("day", "g"))).alias("gv"),
        F.array_sort(F.collect_list(F.struct("day", "l"))).alias("lv"),
    )
    a, one_m_a = F.lit(_RSI_A), F.lit(1 - _RSI_A)
    fold = lambda xs: F.aggregate(
        F.slice(xs, 2, F.size(xs) - 1),
        F.element_at(xs, 1),
        lambda acc, x: x * a + acc * one_m_a,
    )
    st = arrs.select(
        "n_diffs",
        "up_days",
        fold(F.col("gv.g")).alias("ag"),
        fold(F.col("lv.l")).alias("al"),
    )
    return st.select(
        "n_diffs",
        "up_days",
        q6(F.col("ag")).alias("avg_gain"),
        q6(F.col("al")).alias("avg_loss"),
        q6(100.0 - 100.0 / (1.0 + F.col("ag") / F.col("al"))).alias("rsi"),
    )


# --------------------------------------------------------------------------
# Bollinger bands: 20-day 2-sigma breaches of daily quantity
# --------------------------------------------------------------------------
@query(
    "ts_bollinger",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(sum(l_quantity) AS DOUBLE) AS x
      FROM lineitem GROUP BY day
    ),
    w AS (
      SELECT day, x,
             row_number() OVER (ORDER BY day) AS rn,
             sum(x) OVER (ORDER BY day
                          ROWS BETWEEN {_BB_W - 1} PRECEDING AND CURRENT ROW)
               AS sx,
             sum(x * x) OVER (ORDER BY day
                          ROWS BETWEEN {_BB_W - 1} PRECEDING AND CURRENT ROW)
               AS sxx
      FROM daily
    ),
    b AS (
      SELECT x, sx / {_BB_W} AS mu,
             sqrt((sxx - sx * sx / {_BB_W}) / {_BB_W}) AS sd
      FROM w WHERE rn >= {_BB_W}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days_eval,
           CAST(sum(CASE WHEN x > mu + 2 * sd THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above,
           CAST(sum(CASE WHEN x < mu - 2 * sd THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           floor(avg(4 * sd / mu) * 1000000 + 0.5) / 1000000 AS avg_bandwidth,
           floor(max(4 * sd / mu) * 1000000 + 0.5) / 1000000 AS max_bandwidth
    FROM b
    """,
)
def ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breach audit of daily shipped quantity: 20-day
    rolling mean ± 2σ (population σ from windowed Σx and Σx² — the
    sums are exact integers, so the band edges are bit-identical
    cross-engine), counting days that close above/below the band and
    the average/max relative bandwidth 4σ/μ. The volatility-regime
    summary behind 'is demand breaking out or mean-reverting'. The
    fact scan collapses to |calendar| rows before any window. Ref:
    reference band-indicator tests (cf. win_moving_avg,
    events_anomaly for the z-score cousin)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum("l_quantity").cast("double").alias("x")
    )
    wd = W.orderBy("day")
    wr = wd.rowsBetween(-(_BB_W - 1), 0)
    w = daily.select(
        "x",
        F.row_number().over(wd).alias("rn"),
        F.sum("x").over(wr).alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(wr).alias("sxx"),
    )
    b = w.filter(F.col("rn") >= _BB_W).select(
        "x",
        (F.col("sx") / _BB_W).alias("mu"),
        F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / _BB_W) / _BB_W).alias(
            "sd"
        ),
    )
    bw = 4 * F.col("sd") / F.col("mu")
    return b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days_eval"),
        F.sum(F.when(F.col("x") > F.col("mu") + 2 * F.col("sd"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_above"),
        F.sum(F.when(F.col("x") < F.col("mu") - 2 * F.col("sd"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_below"),
        q6(F.avg(bw)).alias("avg_bandwidth"),
        q6(F.max(bw)).alias("max_bandwidth"),
    )


# --------------------------------------------------------------------------
# Spectral entropy of the hourly event-count series
# --------------------------------------------------------------------------
@query(
    "ts_spectral_entropy",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) / 3600
               AS h,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY h
    ),
    base AS (
      SELECT CAST(h - min(h) OVER () AS DOUBLE) AS t,
             x - avg(x) OVER () AS xc,
             CAST(max(h) OVER () - min(h) OVER () + 1 AS DOUBLE) AS n
      FROM hourly
    ),
    freqs AS (SELECT unnest(range(1, {_SE_K + 1})) AS k),
    terms AS (
      SELECT k,
             sum(xc * cos(2 * {_PI} * k * t / n)) AS cs,
             sum(xc * sin(2 * {_PI} * k * t / n)) AS sn
      FROM base CROSS JOIN freqs GROUP BY k
    ),
    p AS (
      SELECT k,
             floor((cs * cs + sn * sn) * 10000 + 0.5) / 10000 AS power
      FROM terms
    ),
    nrm AS (SELECT k, power, power / sum(power) OVER () AS share FROM p)
    SELECT CAST(count(*) AS BIGINT) AS n_freqs,
           floor(-sum(CASE WHEN share > 0 THEN share * ln(share)
                           ELSE 0 END) * 1000000 + 0.5) / 1000000
             AS spectral_entropy,
           floor(-sum(CASE WHEN share > 0 THEN share * ln(share)
                           ELSE 0 END) / ln({_SE_K}.0) * 1000000 + 0.5)
             / 1000000 AS spectral_entropy_norm,
           floor(exp(avg(CASE WHEN power > 0 THEN ln(power) END))
                 / avg(power) * 1000000 + 0.5) / 1000000
             AS spectral_flatness
    FROM nrm
    """,
)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral entropy + flatness of the hourly event-count series
    on the k=1..16 Fourier grid: H = −Σ p̂_k ln p̂_k over the
    normalized periodogram (low H → one dominant cycle, high H →
    noise-like), plus Wiener flatness geomean(P)/mean(P). THE
    one-number screen for 'does this stream have structure worth a
    seasonal model' — ts_periodogram localizes the period, this
    scores whether any period dominates. Powers are grid-quantized
    before normalizing so both engines hit identical doubles. One
    trig aggregation over the |hours|×16 cross. Ref: reference
    spectral-probe tests."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("bigint")
        .alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    wall = W.partitionBy()
    base = hourly.select(
        (F.col("h") - F.min("h").over(wall)).cast("double").alias("t"),
        (F.col("x") - F.avg("x").over(wall)).alias("xc"),
        (F.max("h").over(wall) - F.min("h").over(wall) + 1)
        .cast("double")
        .alias("n"),
    )
    freqs = spark.range(1, _SE_K + 1).select(F.col("id").alias("k"))
    pi2 = 2 * math.pi
    terms = (
        base.crossJoin(F.broadcast(freqs))
        .groupBy("k")
        .agg(
            F.sum(
                F.col("xc") * F.cos(pi2 * F.col("k") * F.col("t") / F.col("n"))
            ).alias("cs"),
            F.sum(
                F.col("xc") * F.sin(pi2 * F.col("k") * F.col("t") / F.col("n"))
            ).alias("sn"),
        )
    )
    p = terms.select(
        "k",
        (
            F.floor((F.col("cs") * F.col("cs") + F.col("sn") * F.col("sn")) * 10000 + 0.5)
            / 10000
        ).alias("power"),
    )
    nrm = p.select("power", (F.col("power") / F.sum("power").over(wall)).alias("share"))
    ent = -F.sum(
        F.when(F.col("share") > 0, F.col("share") * F.log(F.col("share"))).otherwise(
            0.0
        )
    )
    return nrm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_freqs"),
        q6(ent).alias("spectral_entropy"),
        q6(ent / math.log(float(_SE_K))).alias("spectral_entropy_norm"),
        q6(
            F.exp(F.avg(F.when(F.col("power") > 0, F.log(F.col("power")))))
            / F.avg("power")
        ).alias("spectral_flatness"),
    )
