"""Contract keys: ``stats_chow_test``, ``stats_icc``,
``stats_durbin_watson``.

Regression structure diagnostics — Chow break
test, intraclass correlation, Durbin-Watson.

Reference parity: the reference's regression-diagnostics suite —
structural-break detection, grouped-variance decomposition, and
residual autocorrelation — re-expressed as closed forms over exact
integer moment sums (no iterative fitting anywhere).

Scale notes:

- ``stats_chow_test``: three regressions (pooled, pre, post) are
  NINE conditional sums in ONE scan — the break test costs exactly
  one aggregation regardless of data size.
- ``stats_icc``: MSB/MSW come from per-group integer sums; the
  second rollup is |groups|-sized.
- ``stats_durbin_watson``: the fact table collapses to the daily
  series before the lag window; residuals are closed-form from five
  broadcast moments.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6

_SPLIT = "1995-06-30"  # Chow break candidate


# --------------------------------------------------------------------------
# Chow test: did the quantity-vs-time trend break at the split date?
# --------------------------------------------------------------------------
@query(
    "stats_chow_test",
    oracle=f"""
    WITH b AS (
      SELECT CAST(l_quantity AS DOUBLE) AS y,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(l_shipdate AS DATE)) AS DOUBLE) AS x,
             CASE WHEN CAST(l_shipdate AS DATE) <= DATE '{_SPLIT}'
                  THEN 0 ELSE 1 END AS seg
      FROM lineitem
    ),
    m AS (
      SELECT seg, CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM b GROUP BY seg
    ),
    ssr AS (
      SELECT seg, n,
             (syy - sy * sy / n)
               - (sxy - sx * sy / n) * (sxy - sx * sy / n)
                 / (sxx - sx * sx / n) AS s
      FROM m
    ),
    pooled AS (
      SELECT sum(n) AS n,
             (sum(syy) - sum(sy) * sum(sy) / sum(n))
               - (sum(sxy) - sum(sx) * sum(sy) / sum(n))
                 * (sum(sxy) - sum(sx) * sum(sy) / sum(n))
                 / (sum(sxx) - sum(sx) * sum(sx) / sum(n)) AS s
      FROM m
    ),
    parts AS (
      SELECT sum(s) AS s12,
             sum(CASE WHEN seg = 0 THEN n ELSE 0 END) AS n1,
             sum(CASE WHEN seg = 1 THEN n ELSE 0 END) AS n2
      FROM ssr
    )
    SELECT CAST(pooled.n AS BIGINT) AS n,
           CAST(parts.n1 AS BIGINT) AS n_pre,
           CAST(parts.n2 AS BIGINT) AS n_post,
           round(pooled.s, 4) AS ssr_pooled,
           round(parts.s12, 4) AS ssr_split,
           round(((pooled.s - parts.s12) / 2.0)
                 / (parts.s12 / (pooled.n - 4)), 6) AS chow_f,
           CAST(2 AS BIGINT) AS df1,
           CAST(pooled.n - 4 AS BIGINT) AS df2
    FROM pooled CROSS JOIN parts
    """,
)
def stats_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test on the quantity~time regression at
    1995-06-30: F = ((SSR_pooled − SSR₁ − SSR₂)/k)/((SSR₁+SSR₂)/
    (n−2k)) with k=2 (intercept+slope). All three fits are closed
    forms over NINE conditional sums in one scan — 'did the demand
    trend change after the policy date' without fitting anything
    iteratively. Integer x (epoch days) and y (quantity) → the
    moment sums are exact, the F ratio bit-identical. Ref:
    reference break-detection tests (cf. ts_changepoint for the
    nonparametric cousin, stats_diff_in_diff for the causal one)."""
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_quantity").cast("double").alias("y"),
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        F.when(F.col("l_shipdate").cast("date") <= F.lit(_SPLIT).cast("date"), 0)
        .otherwise(1)
        .alias("seg"),
    )
    m = b.groupBy("seg").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )

    def _ssr(n, sx, sy, sxx, sxy, syy):
        return (syy - sy * sy / n) - (sxy - sx * sy / n) * (sxy - sx * sy / n) / (
            sxx - sx * sx / n
        )

    ssr = m.select(
        "seg",
        "n",
        _ssr(
            F.col("n"), F.col("sx"), F.col("sy"), F.col("sxx"), F.col("sxy"), F.col("syy")
        ).alias("s"),
    )
    pooled = m.agg(
        F.sum("n").alias("n"),
        _ssr(
            F.sum("n"),
            F.sum("sx"),
            F.sum("sy"),
            F.sum("sxx"),
            F.sum("sxy"),
            F.sum("syy"),
        ).alias("s"),
    )
    parts = ssr.agg(
        F.sum("s").alias("s12"),
        F.sum(F.when(F.col("seg") == 0, F.col("n")).otherwise(0.0)).alias("n1"),
        F.sum(F.when(F.col("seg") == 1, F.col("n")).otherwise(0.0)).alias("n2"),
    )
    j = pooled.crossJoin(F.broadcast(parts))
    return j.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("n1").cast("bigint").alias("n_pre"),
        F.col("n2").cast("bigint").alias("n_post"),
        F.round("s", 4).alias("ssr_pooled"),
        F.round("s12", 4).alias("ssr_split"),
        F.round(
            ((F.col("s") - F.col("s12")) / 2.0) / (F.col("s12") / (F.col("n") - 4)),
            6,
        ).alias("chow_f"),
        F.lit(2).cast("bigint").alias("df1"),
        (F.col("n") - 4).cast("bigint").alias("df2"),
    )


# --------------------------------------------------------------------------
# ICC(1): how much quantity variance is BETWEEN orders vs within?
# --------------------------------------------------------------------------
@query(
    "stats_icc",
    oracle="""
    WITH g AS (
      SELECT l_orderkey AS ok, CAST(count(*) AS DOUBLE) AS n_i,
             sum(CAST(l_quantity AS DOUBLE)) AS s_i,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE))
               AS ss_i
      FROM lineitem GROUP BY ok HAVING count(*) >= 2
    ),
    t AS (
      SELECT CAST(count(*) AS DOUBLE) AS g_n,
             sum(n_i) AS n, sum(s_i) AS s, sum(ss_i) AS ss,
             sum(s_i * s_i / n_i) AS sb,
             sum(n_i * n_i) AS sn2
      FROM g
    ),
    ms AS (
      SELECT g_n, n,
             (sb - s * s / n) / (g_n - 1) AS msb,
             (ss - sb) / (n - g_n) AS msw,
             (n - sn2 / n) / (g_n - 1) AS k0
      FROM t
    )
    SELECT CAST(g_n AS BIGINT) AS n_groups,
           CAST(n AS BIGINT) AS n_rows,
           round(k0, 6) AS k0,
           round(msb, 6) AS msb,
           round(msw, 6) AS msw,
           round((msb - msw) / (msb + (k0 - 1) * msw), 9) AS icc
    FROM ms
    """,
)
def stats_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraclass correlation ICC(1) of line quantity within orders:
    one-way random-effects decomposition MSB/MSW with the unbalanced
    group-size correction k₀ = (N − Σn_i²/N)/(g−1); ICC =
    (MSB−MSW)/(MSB+(k₀−1)MSW). THE question behind cluster-aware
    sampling and stats_cluster_se: are lines within an order
    exchangeable (ICC≈0) or does the order 'own' its lines? Two
    rollups over exact integer sums — bit-exact. Ref: reference
    variance-decomposition tests (cf. stats_anova, stats_cluster_se)."""
    li = table(spark, sf_dir, "lineitem")
    y = F.col("l_quantity").cast("double")
    g = (
        li.groupBy(F.col("l_orderkey").alias("ok"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_i"),
            F.sum(y).alias("s_i"),
            F.sum(y * y).alias("ss_i"),
        )
        .filter(F.col("n_i") >= 2)
    )
    t = g.agg(
        F.count(F.lit(1)).cast("double").alias("g_n"),
        F.sum("n_i").alias("n"),
        F.sum("s_i").alias("s"),
        F.sum("ss_i").alias("ss"),
        F.sum(F.col("s_i") * F.col("s_i") / F.col("n_i")).alias("sb"),
        F.sum(F.col("n_i") * F.col("n_i")).alias("sn2"),
    )
    ms = t.select(
        "g_n",
        "n",
        ((F.col("sb") - F.col("s") * F.col("s") / F.col("n")) / (F.col("g_n") - 1)).alias(
            "msb"
        ),
        ((F.col("ss") - F.col("sb")) / (F.col("n") - F.col("g_n"))).alias("msw"),
        ((F.col("n") - F.col("sn2") / F.col("n")) / (F.col("g_n") - 1)).alias("k0"),
    )
    return ms.select(
        F.col("g_n").cast("bigint").alias("n_groups"),
        F.col("n").cast("bigint").alias("n_rows"),
        F.round("k0", 6).alias("k0"),
        F.round("msb", 6).alias("msb"),
        F.round("msw", 6).alias("msw"),
        F.round(
            (F.col("msb") - F.col("msw"))
            / (F.col("msb") + (F.col("k0") - 1) * F.col("msw")),
            9,
        ).alias("icc"),
    )


# --------------------------------------------------------------------------
# Durbin-Watson on the daily-demand trend residuals
# --------------------------------------------------------------------------
@query(
    "stats_durbin_watson",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01',
                            CAST(l_shipdate AS DATE)) AS DOUBLE) AS t,
             CAST(sum(l_quantity) AS DOUBLE) AS y
      FROM lineitem GROUP BY t
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(t) AS mt, avg(y) AS my,
             sum(t * y) AS sty, sum(t * t) AS stt, sum(t) AS st,
             sum(y) AS sy
      FROM daily
    ),
    fit AS (
      SELECT n, (sty - st * sy / n) / (stt - st * st / n) AS b1,
             sy / n - (sty - st * sy / n) / (stt - st * st / n) * st / n
               AS b0
      FROM m
    ),
    e AS (
      SELECT d.t, d.y - (f.b0 + f.b1 * d.t) AS e,
             lag(d.y - (f.b0 + f.b1 * d.t)) OVER (ORDER BY d.t) AS e_1
      FROM daily d CROSS JOIN fit f
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           floor(sum(CASE WHEN e_1 IS NOT NULL
                          THEN (e - e_1) * (e - e_1) ELSE 0 END)
                 / sum(e * e) * 1000000 + 0.5) / 1000000 AS dw,
           floor((1.0 - (sum(CASE WHEN e_1 IS NOT NULL
                                  THEN (e - e_1) * (e - e_1) ELSE 0 END)
                         / sum(e * e)) / 2.0) * 1000000 + 0.5) / 1000000
             AS rho_approx
    FROM e
    """,
)
def stats_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic of the daily-demand trend residuals:
    DW = Σ(e_t−e_{t−1})²/Σe_t² on the residuals of quantity~day —
    ≈2 means independent errors, →0 positive autocorrelation (the
    trend line is missing seasonal structure), →4 negative. With
    ρ ≈ 1 − DW/2 attached. The fact table collapses to |days| rows
    first; the fit is closed-form from exact integer sums; one lag
    window on the bounded series. Ref: reference residual-
    diagnostics tests (cf. ts_autocorr — this is its
    regression-residual form)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("double")
        .alias("t")
    ).agg(F.sum("l_quantity").cast("double").alias("y"))
    m = daily.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
    )
    fit = m.select(
        "n",
        ((F.col("sty") - F.col("st") * F.col("sy") / F.col("n"))
         / (F.col("stt") - F.col("st") * F.col("st") / F.col("n"))).alias("b1"),
        (
            F.col("sy") / F.col("n")
            - (F.col("sty") - F.col("st") * F.col("sy") / F.col("n"))
            / (F.col("stt") - F.col("st") * F.col("st") / F.col("n"))
            * F.col("st")
            / F.col("n")
        ).alias("b0"),
    )
    e = daily.crossJoin(F.broadcast(fit)).select(
        "t", (F.col("y") - (F.col("b0") + F.col("b1") * F.col("t"))).alias("e")
    )
    e = e.withColumn("e_1", F.lag("e").over(W.orderBy("t")))
    num = F.sum(
        F.when(
            F.col("e_1").isNotNull(),
            (F.col("e") - F.col("e_1")) * (F.col("e") - F.col("e_1")),
        ).otherwise(0.0)
    )
    den = F.sum(F.col("e") * F.col("e"))
    return e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        q6(num / den).alias("dw"),
        q6(1.0 - (num / den) / 2.0).alias("rho_approx"),
    )
