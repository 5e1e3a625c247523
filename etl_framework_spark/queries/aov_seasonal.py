"""Contract keys: ``sales_mix_adjusted_aov``,
``ts_seasonal_profile_stability``, ``stats_brown_forsythe``.

Mix-adjusted AOV, seasonal-profile stability,
and the Brown-Forsythe test.

Reference parity: the reference's direct-standardization report,
its seasonality-stability check, and its median-based variance test
— re-expressed as a fixed-mix weighted average, year-pair profile
correlations, and exact integer group medians.

Scale notes:

- ``sales_mix_adjusted_aov``: per (year, priority) means + the
  global mix — one rollup each, standardization is row-local.
- ``ts_seasonal_profile_stability``: (year, dow) rollup → year-pair
  correlation over 7 cells per pair.
- ``stats_brown_forsythe``: group medians come from the exact
  value-rollup midpoint (integer quantities), then one |z| moment
  pass.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# Direct standardization: AOV per year at the fixed global mix
# --------------------------------------------------------------------------
@query(
    "sales_mix_adjusted_aov",
    oracle="""
    WITH base AS (
      SELECT CAST(substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS BIGINT)
               AS yr,
             o_orderpriority AS prio, o_totalprice AS rev
      FROM orders
    ),
    cell AS (
      SELECT yr, prio, CAST(count(*) AS DOUBLE) AS n, avg(rev) AS aov
      FROM base GROUP BY yr, prio
    ),
    mix AS (
      SELECT prio, sum(n) AS np,
             sum(n) / (SELECT sum(n) FROM cell) AS w
      FROM cell GROUP BY prio
    ),
    y AS (
      SELECT c.yr,
             sum(c.n * c.aov) / sum(c.n) AS raw_aov,
             sum(m.w * c.aov) AS adj_aov
      FROM cell c JOIN mix m ON c.prio = m.prio
      GROUP BY c.yr
    )
    SELECT yr,
           floor(raw_aov * 10000 + 0.5) / 10000 AS raw_aov,
           floor(adj_aov * 10000 + 0.5) / 10000 AS mix_adjusted_aov,
           floor((raw_aov - adj_aov) * 10000 + 0.5) / 10000 AS mix_effect
    FROM y ORDER BY yr
    """,
)
def sales_mix_adjusted_aov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct standardization of average order value by year: each
    year's per-priority AOVs re-weighted to the GLOBAL priority mix
    — the epidemiology age-adjustment applied to revenue. mix_effect
    = raw − adjusted isolates how much of a year's AOV move was
    just the priority mix shifting versus true within-segment price
    change (the Simpson's-paradox guard for KPI trends). Two
    rollups + a row-local weighted sum. Ref: reference standardized-
    rate tests (cf. stats_simpsons for the failure mode this
    prevents, sales_gmv_bridge for the decomposition view)."""
    od = table(spark, sf_dir, "orders")
    base = od.select(
        F.year(F.col("o_orderdate").cast("date")).cast("bigint").alias("yr"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("rev"),
    )
    cell = base.groupBy("yr", "prio").agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("rev").alias("aov")
    )
    tot = cell.agg(F.sum("n").alias("t"))
    mix = (
        cell.groupBy("prio")
        .agg(F.sum("n").alias("np"))
        .crossJoin(F.broadcast(tot))
        .select("prio", (F.col("np") / F.col("t")).alias("w"))
    )
    y = (
        cell.join(F.broadcast(mix), "prio")
        .groupBy("yr")
        .agg(
            (F.sum(F.col("n") * F.col("aov")) / F.sum("n")).alias("raw_aov"),
            F.sum(F.col("w") * F.col("aov")).alias("adj_aov"),
        )
    )
    q = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
    return y.select(
        "yr",
        q(F.col("raw_aov")).alias("raw_aov"),
        q(F.col("adj_aov")).alias("mix_adjusted_aov"),
        q(F.col("raw_aov") - F.col("adj_aov")).alias("mix_effect"),
    ).orderBy("yr")


# --------------------------------------------------------------------------
# Seasonal-profile stability: weekday shape, year over year
# --------------------------------------------------------------------------
@query(
    "ts_seasonal_profile_stability",
    oracle="""
    WITH daily AS (
      SELECT CAST(substr(CAST(l_shipdate AS VARCHAR), 1, 4) AS BIGINT)
               AS yr,
             CAST(dayofweek(CAST(l_shipdate AS DATE)) + 1 AS BIGINT)
               AS dow,
             CAST(l_shipdate AS DATE) AS day,
             sum(l_quantity) AS q
      FROM lineitem GROUP BY yr, dow, day
    ),
    prof AS (
      SELECT yr, dow, avg(CAST(q AS DOUBLE)) AS m
      FROM daily GROUP BY yr, dow
    ),
    pairs AS (
      SELECT a.yr AS y1, b.yr AS y2, a.dow, a.m AS ma, b.m AS mb
      FROM prof a JOIN prof b ON a.dow = b.dow AND b.yr = a.yr + 1
    ),
    corr AS (
      SELECT y1, y2,
             (sum(ma * mb) - sum(ma) * sum(mb) / count(*))
               / sqrt((sum(ma * ma) - sum(ma) * sum(ma) / count(*))
                      * (sum(mb * mb) - sum(mb) * sum(mb) / count(*)))
               AS r
      FROM pairs GROUP BY y1, y2 HAVING count(*) = 7
    )
    SELECT y1 AS year_from, y2 AS year_to,
           floor(r * 1000000 + 0.5) / 1000000 AS profile_corr
    FROM corr ORDER BY y1
    """,
)
def ts_seasonal_profile_stability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal-profile stability: the weekday demand profile (mean
    daily quantity per day-of-week) correlated between consecutive
    years. r near 1 = the weekly rhythm is a stable planning input;
    r bouncing around 0 = last year's weekday staffing curve is
    noise, don't reuse it. One (year, dow) rollup then 7-point
    correlations per year pair. Ref: reference seasonality tests
    (cf. events_seasonality for detection, ts_dow_heteroscedasticity
    for the variance axis)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.year(F.col("l_shipdate").cast("date")).cast("bigint").alias("yr"),
        F.dayofweek(F.col("l_shipdate").cast("date")).cast("bigint").alias("dow"),
        F.col("l_shipdate").cast("date").alias("day"),
    ).agg(F.sum("l_quantity").alias("q"))
    prof = daily.groupBy("yr", "dow").agg(
        F.avg(F.col("q").cast("double")).alias("m")
    )
    a = prof.select(
        F.col("yr").alias("y1"), "dow", F.col("m").alias("ma")
    )
    b = prof.select(
        F.col("yr").alias("y2"), "dow", F.col("m").alias("mb")
    )
    pairs = a.join(b, "dow").filter(F.col("y2") == F.col("y1") + 1)
    n = F.count(F.lit(1)).cast("double")
    r = (
        F.sum(F.col("ma") * F.col("mb")) - F.sum("ma") * F.sum("mb") / n
    ) / F.sqrt(
        (F.sum(F.col("ma") * F.col("ma")) - F.sum("ma") * F.sum("ma") / n)
        * (F.sum(F.col("mb") * F.col("mb")) - F.sum("mb") * F.sum("mb") / n)
    )
    corr = (
        pairs.groupBy("y1", "y2")
        .agg(r.alias("r"), F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") == 7)
    )
    return corr.select(
        F.col("y1").alias("year_from"),
        F.col("y2").alias("year_to"),
        (F.floor(F.col("r") * 1000000.0 + 0.5) / 1000000.0).alias(
            "profile_corr"
        ),
    ).orderBy("year_from")


# --------------------------------------------------------------------------
# Brown-Forsythe: median-based variance homogeneity
# --------------------------------------------------------------------------
@query(
    "stats_brown_forsythe",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS flag, l_quantity AS q,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY flag, q
    ),
    cum AS (
      SELECT flag, q, c,
             sum(c) OVER (PARTITION BY flag ORDER BY q) AS cumc,
             sum(c) OVER (PARTITION BY flag) AS tot
      FROM v
    ),
    med AS (
      SELECT flag,
             CAST(min(CASE WHEN cumc * 2 >= tot THEN q END) AS DOUBLE)
               AS med
      FROM cum GROUP BY flag
    ),
    z AS (
      SELECT l.l_returnflag AS flag,
             abs(CAST(l.l_quantity AS DOUBLE) - m.med) AS z
      FROM lineitem l JOIN med m ON l.l_returnflag = m.flag
    ),
    g AS (
      SELECT flag, CAST(count(*) AS DOUBLE) AS n,
             sum(z) AS sz, sum(z * z) AS szz
      FROM z GROUP BY flag
    ),
    t AS (
      SELECT sum(n) AS nn, CAST(count(*) AS DOUBLE) AS k,
             sum(sz) AS sz, sum(sz * sz / n) AS sb,
             sum(szz) AS szz
      FROM g
    )
    SELECT CAST(nn AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           floor((nn - k) * (sb - sz * sz / nn)
                 / ((k - 1) * (szz - sb)) * 1000000 + 0.5) / 1000000
             AS bf_f,
           CAST(k - 1 AS BIGINT) AS df1,
           CAST(nn - k AS BIGINT) AS df2
    FROM t
    """,
)
def stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test on quantity by
    return flag: ANOVA on |x − group MEDIAN| — the median centering
    that keeps Levene's idea honest under skewed data (the
    mean-based variant chases outliers). Group medians are EXACT
    (integer quantities → value-rollup midpoint, no percentile
    sketch); one |z| moment pass after. Completes the variance-test
    ladder: Bartlett (normal), Levene (mean), BF (median). Ref:
    reference variance-test tests (cf. stats_levene,
    stats_bartlett)."""
    li = table(spark, sf_dir, "lineitem")
    v = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_quantity").alias("q")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wf = W.partitionBy("flag").orderBy("q")
    cum = v.select(
        "flag",
        "q",
        "c",
        F.sum("c").over(wf).alias("cumc"),
        F.sum("c").over(W.partitionBy("flag")).alias("tot"),
    )
    med = cum.groupBy("flag").agg(
        F.min(F.when(F.col("cumc") * 2 >= F.col("tot"), F.col("q")))
        .cast("double")
        .alias("med")
    )
    z = li.join(
        F.broadcast(med), li.l_returnflag == med.flag
    ).select(
        "flag",
        F.abs(F.col("l_quantity").cast("double") - F.col("med")).alias("z"),
    )
    g = z.groupBy("flag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    t = g.agg(
        F.sum("n").alias("nn"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("sz").alias("sz"),
        F.sum(F.col("sz") * F.col("sz") / F.col("n")).alias("sb"),
        F.sum("szz").alias("szz"),
    )
    nn, k = F.col("nn"), F.col("k")
    bf = (nn - k) * (F.col("sb") - F.col("sz") * F.col("sz") / nn) / (
        (k - 1) * (F.col("szz") - F.col("sb"))
    )
    return t.select(
        nn.cast("bigint").alias("n"),
        k.cast("bigint").alias("k"),
        (F.floor(bf * 1000000.0 + 0.5) / 1000000.0).alias("bf_f"),
        (k - 1).cast("bigint").alias("df1"),
        (nn - k).cast("bigint").alias("df2"),
    )
