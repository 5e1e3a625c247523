"""Contract keys: ``ts_theta_method``, ``stats_welch_anova``,
``stats_meta_analysis``.

Theta-method forecast, Welch's ANOVA, and
fixed-effects meta-analysis.

Reference parity: the reference's forecasting and multi-group
inference suite — the M3-winning Theta method, the
unequal-variance ANOVA, and the inverse-variance pooling operator —
re-expressed as a closed-form trend fit + one SES fold, and two
moment-rollup closed forms.

Scale notes:

- ``ts_theta_method``: the fact table collapses to |months|; the
  trend is closed-form; the only sequential piece is ONE SES fold
  over the theta-line (croston-shaped list_reduce/aggregate).
- ``stats_welch_anova`` / ``stats_meta_analysis``: per-group
  moments in one scan, then k-row arithmetic. Integer inputs →
  bit-exact.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6

_SES_A = 0.3  # Theta-method SES smoothing constant


# --------------------------------------------------------------------------
# Theta method: trend + double-curvature SES on monthly demand
# --------------------------------------------------------------------------
@query(
    "ts_theta_method",
    oracle=f"""
    WITH monthly AS (
      SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS m,
             CAST(sum(l_quantity) AS DOUBLE) AS y
      FROM lineitem GROUP BY m
    ),
    idx AS (
      SELECT row_number() OVER (ORDER BY m) AS t, y FROM monthly
    ),
    mom AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(CAST(t AS DOUBLE)) AS st, sum(y) AS sy,
             sum(CAST(t AS DOUBLE) * y) AS sty,
             sum(CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) AS stt
      FROM idx
    ),
    fit AS (
      SELECT n, (sty - st * sy / n) / (stt - st * st / n) AS b,
             sy / n - (sty - st * sy / n) / (stt - st * st / n) * st / n
               AS a
      FROM mom
    ),
    theta AS (
      SELECT i.t, 2.0 * i.y - (f.a + f.b * i.t) AS z, f.a, f.b, f.n
      FROM idx i CROSS JOIN fit f
    ),
    arr AS (
      SELECT max(a) AS a, max(b) AS b, max(n) AS n,
             list(z ORDER BY t) AS zs
      FROM theta
    ),
    ses AS (
      SELECT a, b, n,
             list_reduce(zs,
               (acc, x) -> x * {_SES_A} + acc * {1 - _SES_A}) AS z_ses
      FROM arr
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           floor(a * 1000000 + 0.5) / 1000000 AS trend_intercept,
           floor(b * 1000000 + 0.5) / 1000000 AS trend_slope,
           floor(z_ses * 1000000 + 0.5) / 1000000 AS theta_ses,
           floor((0.5 * z_ses + 0.5 * (a + b * (n + 1)))
                 * 1000000 + 0.5) / 1000000 AS forecast_h1,
           floor((0.5 * z_ses + 0.5 * (a + b * (n + 2)))
                 * 1000000 + 0.5) / 1000000 AS forecast_h2
    FROM ses
    """,
)
def ts_theta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast of monthly demand (the M3-competition
    winner): decompose into the θ=0 line (pure linear trend, closed
    form) and the θ=2 line (2y − trend, double local curvature),
    SES-smooth the θ=2 line (α=0.3, init-from-first fold), forecast
    = the average of the extrapolated trend and the SES level.
    Equivalent to SES-with-drift but derived the way the reference's
    forecasting op does it. One |months| rollup + one scalar fold →
    bit-exact. Ref: reference forecasting tests (cf. ts_holt — Theta
    beats it on M3-style series with stable trend)."""
    li = table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.date_trunc("month", F.col("l_shipdate").cast("date")).alias("m")
    ).agg(F.sum("l_quantity").cast("double").alias("y"))
    idx = monthly.select(
        F.row_number().over(W.orderBy("m")).alias("t"), "y"
    )
    t = F.col("t").cast("double")
    mom = idx.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(t).alias("st"),
        F.sum("y").alias("sy"),
        F.sum(t * F.col("y")).alias("sty"),
        F.sum(t * t).alias("stt"),
    )
    b = (F.col("sty") - F.col("st") * F.col("sy") / F.col("n")) / (
        F.col("stt") - F.col("st") * F.col("st") / F.col("n")
    )
    fit = mom.select(
        "n",
        b.alias("b"),
        (F.col("sy") / F.col("n") - b * F.col("st") / F.col("n")).alias("a"),
    )
    theta = idx.crossJoin(F.broadcast(fit)).select(
        "t",
        (2.0 * F.col("y") - (F.col("a") + F.col("b") * F.col("t"))).alias("z"),
        "a",
        "b",
        "n",
    )
    arr = theta.agg(
        F.max("a").alias("a"),
        F.max("b").alias("b"),
        F.max("n").alias("n"),
        F.array_sort(F.collect_list(F.struct("t", "z"))).alias("zv"),
    )
    zs = F.col("zv.z")
    al, one_m_a = F.lit(_SES_A), F.lit(1 - _SES_A)
    ses_val = F.aggregate(
        F.slice(zs, 2, F.size(zs) - 1),
        F.element_at(zs, 1),
        lambda acc, x: x * al + acc * one_m_a,
    )
    ses = arr.select("a", "b", "n", ses_val.alias("z_ses"))
    return ses.select(
        F.col("n").cast("bigint").alias("n_months"),
        q6(F.col("a")).alias("trend_intercept"),
        q6(F.col("b")).alias("trend_slope"),
        q6(F.col("z_ses")).alias("theta_ses"),
        q6(
            0.5 * F.col("z_ses") + 0.5 * (F.col("a") + F.col("b") * (F.col("n") + 1))
        ).alias("forecast_h1"),
        q6(
            0.5 * F.col("z_ses") + 0.5 * (F.col("a") + F.col("b") * (F.col("n") + 2))
        ).alias("forecast_h2"),
    )


# --------------------------------------------------------------------------
# Welch's ANOVA: unequal-variance k-group mean comparison
# --------------------------------------------------------------------------
@query(
    "stats_welch_anova",
    oracle="""
    WITH g AS (
      SELECT l_returnflag AS flag,
             CAST(count(*) AS DOUBLE) AS n,
             sum(CAST(l_quantity AS DOUBLE)) AS sx,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE))
               AS sxx
      FROM lineitem GROUP BY flag
    ),
    w AS (
      SELECT flag, n, sx / n AS m,
             n / ((sxx - sx * sx / n) / (n - 1)) AS wt
      FROM g
    ),
    s1 AS (
      SELECT CAST(count(*) AS DOUBLE) AS k, sum(wt) AS sw,
             sum(wt * m) AS swm
      FROM w
    ),
    s2 AS (
      SELECT sum(w.wt * (w.m - s1.swm / s1.sw)
                       * (w.m - s1.swm / s1.sw)) AS num,
             sum((1.0 - w.wt / s1.sw) * (1.0 - w.wt / s1.sw) / (w.n - 1))
               AS hsum
      FROM w CROSS JOIN s1
    )
    SELECT CAST(s1.k AS BIGINT) AS k,
           round(s1.swm / s1.sw, 6) AS grand_weighted_mean,
           round(s2.num / (s1.k - 1)
                 / (1.0 + 2.0 * (s1.k - 2) / (s1.k * s1.k - 1) * s2.hsum),
                 6) AS welch_f,
           round((s1.k * s1.k - 1) / (3.0 * s2.hsum), 4) AS df2
    FROM s1 CROSS JOIN s2
    """,
)
def stats_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic ANOVA on quantity across return
    flags: groups weighted by n/s², F* = Σw(m−m̄w)²/(k−1) over the
    Welch correction term, with the Welch-Satterthwaite df₂. The
    k-group mean test that stays valid when stats_bartlett says the
    variances differ — the reference ships the (classic ANOVA,
    Bartlett gate, Welch fallback) triple and so do we. One moment
    rollup + k-row arithmetic, integer-exact. Ref: reference
    multi-group tests (cf. stats_anova, stats_ttest_welch for k=2)."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("double")
    g = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    w = g.select(
        "flag",
        "n",
        (F.col("sx") / F.col("n")).alias("m"),
        (
            F.col("n")
            / ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1))
        ).alias("wt"),
    )
    s1 = w.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("wt").alias("sw"),
        F.sum(F.col("wt") * F.col("m")).alias("swm"),
    )
    jw = w.crossJoin(F.broadcast(s1))
    s2 = jw.agg(
        F.sum(
            F.col("wt")
            * (F.col("m") - F.col("swm") / F.col("sw"))
            * (F.col("m") - F.col("swm") / F.col("sw"))
        ).alias("num"),
        F.sum(
            (1.0 - F.col("wt") / F.col("sw"))
            * (1.0 - F.col("wt") / F.col("sw"))
            / (F.col("n") - 1)
        ).alias("hsum"),
    )
    j = s1.crossJoin(F.broadcast(s2))
    k = F.col("k")
    return j.select(
        k.cast("bigint").alias("k"),
        F.round(F.col("swm") / F.col("sw"), 6).alias("grand_weighted_mean"),
        F.round(
            F.col("num")
            / (k - 1)
            / (1.0 + 2.0 * (k - 2) / (k * k - 1) * F.col("hsum")),
            6,
        ).alias("welch_f"),
        F.round((k * k - 1) / (3.0 * F.col("hsum")), 4).alias("df2"),
    )


# --------------------------------------------------------------------------
# Fixed-effects meta-analysis of the R-vs-other quantity effect by nation
# --------------------------------------------------------------------------
@query(
    "stats_meta_analysis",
    oracle="""
    WITH base AS (
      SELECT s.s_nationkey AS nation,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS grp,
             CAST(l.l_quantity AS DOUBLE) AS y
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    ),
    g AS (
      SELECT nation, grp, CAST(count(*) AS DOUBLE) AS n,
             sum(y) AS sx, sum(y * y) AS sxx
      FROM base GROUP BY nation, grp
    ),
    wide AS (
      SELECT nation,
             max(CASE WHEN grp = 1 THEN n END) AS n1,
             max(CASE WHEN grp = 1 THEN sx / n END) AS m1,
             max(CASE WHEN grp = 1 THEN (sxx - sx * sx / n) / (n - 1) END)
               AS v1,
             max(CASE WHEN grp = 0 THEN n END) AS n0,
             max(CASE WHEN grp = 0 THEN sx / n END) AS m0,
             max(CASE WHEN grp = 0 THEN (sxx - sx * sx / n) / (n - 1) END)
               AS v0
      FROM g GROUP BY nation
      HAVING max(CASE WHEN grp = 1 THEN n END) >= 2
         AND max(CASE WHEN grp = 0 THEN n END) >= 2
    ),
    eff AS (
      SELECT nation, m1 - m0 AS d, v1 / n1 + v0 / n0 AS var
      FROM wide
    ),
    pool AS (
      SELECT CAST(count(*) AS DOUBLE) AS ks,
             sum(1.0 / var) AS sw, sum(d / var) AS swd,
             sum(d * d / var) AS swd2
      FROM eff
    )
    SELECT CAST(ks AS BIGINT) AS n_studies,
           round(swd / sw, 6) AS pooled_effect,
           round(sqrt(1.0 / sw), 6) AS pooled_se,
           round(swd2 - swd * swd / sw, 6) AS cochran_q,
           round(greatest(0.0, (swd2 - swd * swd / sw - (ks - 1))
                          / (swd2 - swd * swd / sw)), 6) AS i2
    FROM pool
    """,
)
def stats_meta_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effects meta-analysis treating each supplier NATION as
    a study of the returned-vs-kept quantity effect: per-nation mean
    difference d with variance v₁/n₁+v₀/n₀, pooled by inverse-
    variance weights, plus Cochran's Q heterogeneity and I² (share
    of variation beyond chance — I²>0.5 says 'don't pool, the
    effect differs by nation'). The federated-inference primitive:
    at 100 TB each 'study' is a partition-local moment rollup and
    pooling touches k rows. Integer sums → exact. Ref: reference
    meta-analytic tests (cf. stats_mantel_haenszel for the binary
    twin, stats_simpsons for why pooling blindly is dangerous)."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    base = li.join(sup, li.l_suppkey == sup.s_suppkey).select(
        F.col("s_nationkey").alias("nation"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("grp"),
        F.col("l_quantity").cast("double").alias("y"),
    )
    g = base.groupBy("nation", "grp").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").alias("sx"),
        F.sum(F.col("y") * F.col("y")).alias("sxx"),
    )
    m = F.col("sx") / F.col("n")
    v = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    wide = (
        g.groupBy("nation")
        .agg(
            F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
            F.max(F.when(F.col("grp") == 1, m)).alias("m1"),
            F.max(F.when(F.col("grp") == 1, v)).alias("v1"),
            F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
            F.max(F.when(F.col("grp") == 0, m)).alias("m0"),
            F.max(F.when(F.col("grp") == 0, v)).alias("v0"),
        )
        .filter((F.col("n1") >= 2) & (F.col("n0") >= 2))
    )
    eff = wide.select(
        "nation",
        (F.col("m1") - F.col("m0")).alias("d"),
        (F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0")).alias("var"),
    )
    pool = eff.agg(
        F.count(F.lit(1)).cast("double").alias("ks"),
        F.sum(1.0 / F.col("var")).alias("sw"),
        F.sum(F.col("d") / F.col("var")).alias("swd"),
        F.sum(F.col("d") * F.col("d") / F.col("var")).alias("swd2"),
    )
    qstat = F.col("swd2") - F.col("swd") * F.col("swd") / F.col("sw")
    return pool.select(
        F.col("ks").cast("bigint").alias("n_studies"),
        F.round(F.col("swd") / F.col("sw"), 6).alias("pooled_effect"),
        F.round(F.sqrt(1.0 / F.col("sw")), 6).alias("pooled_se"),
        F.round(qstat, 6).alias("cochran_q"),
        F.round(
            F.greatest(F.lit(0.0), (qstat - (F.col("ks") - 1)) / qstat), 6
        ).alias("i2"),
    )
