"""Contract keys: ``ts_cointegration_lite``, ``ts_matrix_profile``,
``ts_forecast_scorecard``.

Series-relationship analytics — cointegration
probe, matrix-profile discords, forecast-accuracy scorecard.

Reference parity: the reference's advanced time-series ops —
spurious-regression detection (Engle-Granger), anomaly/motif
discovery (matrix profile), and the forecast scorecard — each
re-expressed as bounded-series computations AFTER the fact table
collapses to daily/weekly rollups.

Scale notes:

- All three collapse |fact| → |calendar| first; the quadratic
  matrix-profile pair join runs over ~330 weekly positions (at any
  input scale), never over raw rows.
- Per-window z-normalization and per-pair distances are ROW-LOCAL
  array folds (left-assoc on both engines → bit-stable); distances
  are grid-quantized before the argmin so ties break identically.
- ``ts_cointegration_lite``: the two-brand daily matrix is one
  broadcast-dim join + conditional sums; the residual ADF step is
  closed-form from five more sums.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6

_MP_W = 4  # matrix-profile subsequence length (weeks)
_BRAND_A = "Brand#1"
_BRAND_B = "Brand#2"


# --------------------------------------------------------------------------
# Engle-Granger cointegration probe on two brand demand series
# --------------------------------------------------------------------------
@query(
    "ts_cointegration_lite",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(l.l_shipdate AS DATE) AS day,
             sum(CASE WHEN p.p_brand = '{_BRAND_A}'
                      THEN l.l_quantity ELSE 0 END) AS ya,
             sum(CASE WHEN p.p_brand = '{_BRAND_B}'
                      THEN l.l_quantity ELSE 0 END) AS yb
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand IN ('{_BRAND_A}', '{_BRAND_B}')
      GROUP BY day
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(CAST(ya AS DOUBLE)) AS sa, sum(CAST(yb AS DOUBLE)) AS sb,
             sum(CAST(ya AS DOUBLE) * CAST(yb AS DOUBLE)) AS sab,
             sum(CAST(yb AS DOUBLE) * CAST(yb AS DOUBLE)) AS sbb,
             sum(CAST(ya AS DOUBLE) * CAST(ya AS DOUBLE)) AS saa
      FROM daily
    ),
    fit AS (
      SELECT n, (sab - sb * sa / n) / (sbb - sb * sb / n) AS beta,
             sa / n - (sab - sb * sa / n) / (sbb - sb * sb / n) * sb / n
               AS alpha,
             (sab - sa * sb / n)
               / sqrt((saa - sa * sa / n) * (sbb - sb * sb / n)) AS corr
      FROM m
    ),
    e AS (
      SELECT d.day,
             CAST(d.ya AS DOUBLE) - (f.alpha + f.beta * CAST(d.yb AS DOUBLE))
               AS e
      FROM daily d CROSS JOIN fit f
    ),
    lagd AS (
      SELECT e, lag(e) OVER (ORDER BY day) AS e1 FROM e
    ),
    adf AS (
      SELECT CAST(count(*) AS DOUBLE) AS nn,
             sum(e1 * (e - e1)) AS num, sum(e1 * e1) AS den,
             sum((e - e1) * (e - e1)) AS sde
      FROM lagd WHERE e1 IS NOT NULL
    )
    SELECT CAST(fit.n AS BIGINT) AS n_days,
           floor(fit.beta * 1000000 + 0.5) / 1000000 AS beta,
           floor(fit.corr * 1000000 + 0.5) / 1000000 AS level_corr,
           floor(adf.num / adf.den * 1000000 + 0.5) / 1000000 AS gamma,
           floor(adf.num / adf.den
                 / sqrt((adf.sde / adf.nn - (adf.num / adf.den)
                         * (adf.num / adf.den) * adf.den / adf.nn)
                        / adf.den) * 10000 + 0.5) / 10000 AS t_gamma
    FROM fit CROSS JOIN adf
    """,
)
def ts_cointegration_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger cointegration probe between two brands' daily
    demand: OLS of A on B (closed form), then the ADF-style unit-root
    regression Δe_t = γe_{t−1} on the residual — γ far below 0 with a
    large |t| means the spread mean-reverts (the series co-move
    beyond what level correlation shows); γ≈0 flags a spurious
    regression. One broadcast-dim join + conditional daily sums;
    everything after is closed-form. Ref: reference pair-analytics
    tests (cf. ts_granger_lite, ts_cross_corr)."""
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin(_BRAND_A, _BRAND_B)
    )
    daily = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(F.col("l_shipdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.when(F.col("p_brand") == _BRAND_A, F.col("l_quantity")).otherwise(0)
            ).alias("ya"),
            F.sum(
                F.when(F.col("p_brand") == _BRAND_B, F.col("l_quantity")).otherwise(0)
            ).alias("yb"),
        )
    )
    ya, yb = F.col("ya").cast("double"), F.col("yb").cast("double")
    m = daily.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(ya).alias("sa"),
        F.sum(yb).alias("sb"),
        F.sum(ya * yb).alias("sab"),
        F.sum(yb * yb).alias("sbb"),
        F.sum(ya * ya).alias("saa"),
    )
    beta = (F.col("sab") - F.col("sb") * F.col("sa") / F.col("n")) / (
        F.col("sbb") - F.col("sb") * F.col("sb") / F.col("n")
    )
    fit = m.select(
        "n",
        beta.alias("beta"),
        (F.col("sa") / F.col("n") - beta * F.col("sb") / F.col("n")).alias("alpha"),
        (
            (F.col("sab") - F.col("sa") * F.col("sb") / F.col("n"))
            / F.sqrt(
                (F.col("saa") - F.col("sa") * F.col("sa") / F.col("n"))
                * (F.col("sbb") - F.col("sb") * F.col("sb") / F.col("n"))
            )
        ).alias("corr"),
    )
    e = daily.crossJoin(F.broadcast(fit)).select(
        "day",
        (ya - (F.col("alpha") + F.col("beta") * yb)).alias("e"),
    )
    lagd = e.withColumn("e1", F.lag("e").over(W.orderBy("day"))).filter(
        F.col("e1").isNotNull()
    )
    adf = lagd.agg(
        F.count(F.lit(1)).cast("double").alias("nn"),
        F.sum(F.col("e1") * (F.col("e") - F.col("e1"))).alias("num"),
        F.sum(F.col("e1") * F.col("e1")).alias("den"),
        F.sum((F.col("e") - F.col("e1")) * (F.col("e") - F.col("e1"))).alias("sde"),
    )
    g = F.col("num") / F.col("den")
    se = F.sqrt(
        (F.col("sde") / F.col("nn") - g * g * F.col("den") / F.col("nn"))
        / F.col("den")
    )
    q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
    return fit.crossJoin(F.broadcast(adf)).select(
        F.col("n").cast("bigint").alias("n_days"),
        q6(F.col("beta")).alias("beta"),
        q6(F.col("corr")).alias("level_corr"),
        q6(g).alias("gamma"),
        q4(g / se).alias("t_gamma"),
    )


# --------------------------------------------------------------------------
# Matrix-profile discords on the weekly demand series
# --------------------------------------------------------------------------
@query(
    "ts_matrix_profile",
    oracle=f"""
    WITH weekly AS (
      SELECT date_diff('day', DATE '1970-01-05', CAST(l_shipdate AS DATE))
               // 7 AS wk,
             CAST(sum(l_quantity) AS DOUBLE) AS x
      FROM lineitem GROUP BY wk
    ),
    pos AS (
      SELECT row_number() OVER (ORDER BY wk) AS t, x FROM weekly
    ),
    win AS (
      SELECT t, list(x) OVER (ORDER BY t
                              ROWS BETWEEN CURRENT ROW
                              AND {_MP_W - 1} FOLLOWING) AS w
      FROM pos
    ),
    zw AS (
      SELECT t,
             list_transform(w, v ->
               (v - list_reduce(w, (a, b) -> a + b) / {_MP_W}.0)) AS c,
             sqrt(list_reduce(
               list_transform(w, v ->
                 (v - list_reduce(w, (a, b) -> a + b) / {_MP_W}.0)
                 * (v - list_reduce(w, (a, b) -> a + b) / {_MP_W}.0)),
               (a, b) -> a + b) / {_MP_W}.0) AS sd
      FROM win WHERE len(w) = {_MP_W}
    ),
    z AS (
      SELECT t, list_transform(c, v -> v / sd) AS z
      FROM zw WHERE sd > 0
    ),
    pairs AS (
      SELECT i.t AS t,
             floor(list_reduce(
               list_transform(range(1, {_MP_W + 1}),
                 k -> (i.z[k] - j.z[k]) * (i.z[k] - j.z[k])),
               (a, b) -> a + b) * 1000000 + 0.5) * 1000 + j.t AS key
      FROM z i JOIN z j ON abs(i.t - j.t) >= {_MP_W}
    ),
    prof AS (
      SELECT t, min(key) AS k FROM pairs GROUP BY t
    )
    SELECT CAST(t AS BIGINT) AS t,
           CAST(k % 1000 AS BIGINT) AS nn_t,
           floor(k / 1000) / 1000000 AS nn_dist
    FROM prof ORDER BY nn_dist DESC, t LIMIT 5
    """,
)
def ts_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix-profile discords of the weekly demand series: for each
    4-week z-normalized subsequence, the distance to its nearest
    non-trivial neighbor (exclusion zone |i−j| ≥ w); the 5 LARGEST
    profile values are the discords — the weeks whose shape repeats
    nowhere else (outages, one-off promos). The fact table collapses
    to ~330 weekly positions first, so the quadratic pair join is
    over positions, not rows — the 100 TB plan is identical.
    Z-normalization and per-pair distances are row-local left-fold
    array ops, distances grid-quantized before the (dist, j) argmin
    so ties break identically cross-engine. Ref: reference
    motif/discord tests (cf. ts_paa_sax for the symbolic cousin,
    events_anomaly_mad for the pointwise one)."""
    li = table(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        (
            F.datediff(
                F.col("l_shipdate").cast("date"), F.lit("1970-01-05").cast("date")
            )
            / 7
        )
        .cast("bigint")  # floor-div for non-negative epochs
        .alias("wk")
    ).agg(F.sum("l_quantity").cast("double").alias("x"))
    pos = weekly.select(F.row_number().over(W.orderBy("wk")).alias("t"), "x")
    win = pos.select(
        "t",
        F.collect_list("x")
        .over(W.orderBy("t").rowsBetween(0, _MP_W - 1))
        .alias("w"),
    ).filter(F.size("w") == _MP_W)
    lsum = lambda arr: F.aggregate(
        F.slice(arr, 2, _MP_W - 1), F.element_at(arr, 1), lambda a, b: a + b
    )
    mean = lsum(F.col("w")) / float(_MP_W)
    c = F.transform(F.col("w"), lambda v: v - mean)
    zw = win.select(
        "t",
        c.alias("c"),
        F.sqrt(lsum(F.transform(F.col("w"), lambda v: (v - mean) * (v - mean))) / float(_MP_W)).alias(
            "sd"
        ),
    )
    z = zw.filter(F.col("sd") > 0).select(
        "t", F.transform(F.col("c"), lambda v: v / F.col("sd")).alias("z")
    )
    zi = z.select(F.col("t").alias("ti"), F.col("z").alias("zi"))
    zj = z.select(F.col("t").alias("tj"), F.col("z").alias("zj"))
    diffs = F.transform(
        F.sequence(F.lit(1), F.lit(_MP_W)),
        lambda k: (F.element_at(F.col("zi"), k) - F.element_at(F.col("zj"), k))
        * (F.element_at(F.col("zi"), k) - F.element_at(F.col("zj"), k)),
    )
    dsum = F.aggregate(
        F.slice(diffs, 2, _MP_W - 1), F.element_at(diffs, 1), lambda a, b: a + b
    )
    pairs = zi.join(zj, F.abs(F.col("ti") - F.col("tj")) >= _MP_W).select(
        F.col("ti").alias("t"),
        (F.floor(dsum * 1000000.0 + 0.5) * 1000 + F.col("tj")).alias("key"),
    )
    prof = pairs.groupBy("t").agg(F.min("key").alias("k"))
    return (
        prof.select(
            F.col("t").cast("bigint").alias("t"),
            (F.col("k") % 1000).cast("bigint").alias("nn_t"),
            (F.floor(F.col("k") / 1000) / 1000000.0).alias("nn_dist"),
        )
        .orderBy(F.desc("nn_dist"), "t")
        .limit(5)
    )


# --------------------------------------------------------------------------
# Forecast scorecard: seasonal-naive vs naive on daily demand
# --------------------------------------------------------------------------
@query(
    "ts_forecast_scorecard",
    oracle="""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(sum(l_quantity) AS DOUBLE) AS y
      FROM lineitem GROUP BY day
    ),
    lagd AS (
      SELECT y,
             lag(y, 7) OVER (ORDER BY day) AS yhat,
             lag(y, 1) OVER (ORDER BY day) AS ynaive
      FROM daily
    ),
    e AS (
      SELECT y, yhat, ynaive FROM lagd
      WHERE yhat IS NOT NULL AND ynaive IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           floor(avg(abs(y - yhat)) * 1000000 + 0.5) / 1000000 AS mae_snaive,
           floor(avg(abs(y - ynaive)) * 1000000 + 0.5) / 1000000 AS mae_naive,
           floor(avg(2.0 * abs(y - yhat) / (abs(y) + abs(yhat)))
                 * 1000000 + 0.5) / 1000000 AS smape_snaive,
           floor(avg(abs(y - yhat)) / avg(abs(y - ynaive))
                 * 1000000 + 0.5) / 1000000 AS mase,
           floor(sqrt(sum((y - yhat) * (y - yhat))
                      / sum((y - ynaive) * (y - ynaive)))
                 * 1000000 + 0.5) / 1000000 AS theil_u2
    FROM e
    """,
)
def ts_forecast_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy scorecard for the seasonal-naive
    (ŷ_t = y_{t−7}) forecaster on daily demand, scored against the
    naive (y_{t−1}) benchmark: MAE, sMAPE, MASE (MAE ratio — <1
    means weekly seasonality helps) and Theil's U2 (RMSE ratio).
    The standard 'is my fancy model even beating naive' gate,
    computed on the same evaluation rows for both forecasters. The
    fact table collapses to |days| before the two lag windows. Ref:
    reference forecast-eval tests (cf. events_forecast_backtest —
    this adds the scale-free metric family)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum("l_quantity").cast("double").alias("y")
    )
    wd = W.orderBy("day")
    lagd = daily.select(
        "y",
        F.lag("y", 7).over(wd).alias("yhat"),
        F.lag("y", 1).over(wd).alias("ynaive"),
    ).filter(F.col("yhat").isNotNull() & F.col("ynaive").isNotNull())
    y, yh, yn = F.col("y"), F.col("yhat"), F.col("ynaive")
    return lagd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        q6(F.avg(F.abs(y - yh))).alias("mae_snaive"),
        q6(F.avg(F.abs(y - yn))).alias("mae_naive"),
        q6(F.avg(2.0 * F.abs(y - yh) / (F.abs(y) + F.abs(yh)))).alias(
            "smape_snaive"
        ),
        q6(F.avg(F.abs(y - yh)) / F.avg(F.abs(y - yn))).alias("mase"),
        q6(
            F.sqrt(
                F.sum((y - yh) * (y - yh)) / F.sum((y - yn) * (y - yn))
            )
        ).alias("theil_u2"),
    )
