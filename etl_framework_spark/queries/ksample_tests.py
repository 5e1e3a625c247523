"""Contract keys: ``stats_kruskal_wallis``, ``stats_wilcoxon_signed_rank``,
``stats_bartlett``.

The nonparametric k-sample / paired-sample
test kit — Kruskal-Wallis, Wilcoxon signed-rank, and Bartlett.

Reference parity: the reference's hypothesis-test suite — the
rank-based siblings of the parametric tests already covered
(stats_anova, stats_ttest_welch, stats_levene) — re-expressed as
value-level rank rollups (never a per-row rank shuffle).

Scale notes:

- All three run on INTEGER ``l_quantity``, so every sum both engines
  compute is an exact integer in double precision — the statistics
  are bit-identical with no quantization ladder needed.
- ``stats_kruskal_wallis``: average ranks come from the (value →
  count) rollup (≤50 distinct values), NOT from ranking 60k rows —
  at 100 TB the rank table is still 50 rows; the only big pass is
  one groupBy(flag, value) count.
- ``stats_wilcoxon_signed_rank``: pairs are line 1 vs line 2 within
  an order (one self-join on the order key, both sides filtered to a
  single line number before the join), then the same value-level
  average-rank trick on |d|.
- ``stats_bartlett``: pure moment aggregation — one pass, k rows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# Kruskal-Wallis H: does quantity's distribution differ by return flag?
# --------------------------------------------------------------------------
@query(
    "stats_kruskal_wallis",
    oracle="""
    WITH gv AS (
      SELECT l_returnflag AS flag, l_quantity AS val,
             CAST(count(*) AS DOUBLE) AS n_gv
      FROM lineitem GROUP BY flag, val
    ),
    v AS (
      SELECT val, sum(n_gv) AS cnt,
             sum(sum(n_gv)) OVER (ORDER BY val) AS cum
      FROM gv GROUP BY val
    ),
    r AS (SELECT val, cnt, cum - cnt + (cnt + 1) / 2.0 AS avg_rank FROM v),
    g AS (
      SELECT gv.flag, sum(gv.n_gv) AS n_g,
             sum(gv.n_gv * r.avg_rank) AS rank_sum
      FROM gv JOIN r ON gv.val = r.val GROUP BY gv.flag
    ),
    tot AS (
      SELECT sum(n_g) AS n, CAST(count(*) AS BIGINT) AS k,
             sum(rank_sum * rank_sum / n_g) AS s
      FROM g
    ),
    ties AS (
      SELECT sum(cnt * cnt * cnt - cnt) AS tie_sum FROM v
    )
    SELECT CAST(tot.n AS BIGINT) AS n, tot.k AS k,
           round(12.0 / (tot.n * (tot.n + 1)) * tot.s - 3 * (tot.n + 1), 6)
             AS h,
           round(1.0 - ties.tie_sum / (tot.n * tot.n * tot.n - tot.n), 9)
             AS tie_correction,
           round((12.0 / (tot.n * (tot.n + 1)) * tot.s - 3 * (tot.n + 1))
                 / (1.0 - ties.tie_sum / (tot.n * tot.n * tot.n - tot.n)), 6)
             AS h_tie_corrected,
           tot.k - 1 AS df
    FROM tot CROSS JOIN ties
    """,
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test of l_quantity across the three return
    flags — the rank-based ANOVA that holds under any monotone
    transform of the response. Average ranks are computed at the
    VALUE level (≤50 distinct quantities → cumulative counts →
    midrank), so the 60k-row rank assignment never materializes;
    H = 12/(N(N+1))·ΣR_g²/n_g − 3(N+1), tie-corrected by
    1 − Σ(t³−t)/(N³−N). Integer input → bit-exact cross-engine.
    Ref: reference hypothesis-test suite (cf. stats_anova,
    stats_mannwhitney — this is its k-sample generalization)."""
    li = table(spark, sf_dir, "lineitem")
    gv = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_quantity").alias("val")
    ).agg(F.count(F.lit(1)).cast("double").alias("n_gv"))
    v = gv.groupBy("val").agg(F.sum("n_gv").alias("cnt"))
    v = v.withColumn("cum", F.sum("cnt").over(W.orderBy("val")))
    r = v.select(
        "val",
        "cnt",
        (F.col("cum") - F.col("cnt") + (F.col("cnt") + 1) / 2.0).alias("avg_rank"),
    )
    g = (
        gv.join(F.broadcast(r), "val")
        .groupBy("flag")
        .agg(
            F.sum("n_gv").alias("n_g"),
            F.sum(F.col("n_gv") * F.col("avg_rank")).alias("rank_sum"),
        )
    )
    tot = g.agg(
        F.sum("n_g").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("rank_sum") * F.col("rank_sum") / F.col("n_g")).alias("s"),
    )
    ties = v.agg(
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")).alias(
            "tie_sum"
        )
    )
    n, s, tie = F.col("n"), F.col("s"), F.col("tie_sum")
    h = 12.0 / (n * (n + 1)) * s - 3 * (n + 1)
    c = 1.0 - tie / (n * n * n - n)
    return tot.crossJoin(F.broadcast(ties)).select(
        n.cast("bigint").alias("n"),
        F.col("k"),
        F.round(h, 6).alias("h"),
        F.round(c, 9).alias("tie_correction"),
        F.round(h / c, 6).alias("h_tie_corrected"),
        (F.col("k") - 1).alias("df"),
    )


# --------------------------------------------------------------------------
# Wilcoxon signed-rank: paired quantities, line 1 vs line 2 of an order
# --------------------------------------------------------------------------
@query(
    "stats_wilcoxon_signed_rank",
    oracle="""
    WITH p AS (
      SELECT a.l_quantity AS q1, b.l_quantity AS q2,
             b.l_quantity - a.l_quantity AS d
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey
       AND a.l_linenumber = 1 AND b.l_linenumber = 2
    ),
    nz AS (SELECT abs(d) AS ad, d > 0 AS pos FROM p WHERE d <> 0),
    v AS (
      SELECT ad, CAST(count(*) AS DOUBLE) AS cnt,
             sum(count(*)) OVER (ORDER BY ad) AS cum,
             CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE) AS n_pos
      FROM nz GROUP BY ad
    ),
    r AS (
      SELECT ad, cnt, n_pos, cum - cnt + (cnt + 1) / 2.0 AS avg_rank FROM v
    ),
    s AS (
      SELECT sum(cnt) AS n,
             sum(n_pos * avg_rank) AS w_plus,
             sum((cnt - n_pos) * avg_rank) AS w_minus,
             sum(cnt * cnt * cnt - cnt) AS tie_sum
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           round(w_plus, 2) AS w_plus,
           round(w_minus, 2) AS w_minus,
           round((w_plus - n * (n + 1) / 4.0)
                 / sqrt(n * (n + 1) * (2 * n + 1) / 24.0 - tie_sum / 48.0), 6)
             AS z
    FROM s
    """,
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired quantities — line 2 vs
    line 1 of each multi-line order: drop zero differences, midrank
    |d| at the VALUE level (|d| ≤ 49 → ≤49 distinct ranks), then
    W⁺ = Σ ranks of positive differences with the normal
    approximation z = (W⁺ − n(n+1)/4)/√(n(n+1)(2n+1)/24 − Σ(t³−t)/48).
    The paired sibling of stats_mannwhitney; answers 'does a
    customer's second line systematically order more?'. One key-join
    builds the pairs, the rank table stays tiny at any scale. Ref:
    reference paired-test coverage (cf. stats_mcnemar for the binary
    twin)."""
    li = table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey", F.col("l_quantity").alias("q1")
    )
    b = li.filter(F.col("l_linenumber") == 2).select(
        "l_orderkey", F.col("l_quantity").alias("q2")
    )
    p = a.join(b, "l_orderkey").select((F.col("q2") - F.col("q1")).alias("d"))
    nz = p.filter(F.col("d") != 0).select(
        F.abs(F.col("d")).alias("ad"), (F.col("d") > 0).alias("pos")
    )
    v = nz.groupBy("ad").agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("double").alias("n_pos"),
    )
    v = v.withColumn("cum", F.sum("cnt").over(W.orderBy("ad")))
    r = v.select(
        "cnt",
        "n_pos",
        (F.col("cum") - F.col("cnt") + (F.col("cnt") + 1) / 2.0).alias("avg_rank"),
    )
    s = r.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("n_pos") * F.col("avg_rank")).alias("w_plus"),
        F.sum((F.col("cnt") - F.col("n_pos")) * F.col("avg_rank")).alias("w_minus"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")).alias(
            "tie_sum"
        ),
    )
    n = F.col("n")
    z = (F.col("w_plus") - n * (n + 1) / 4.0) / F.sqrt(
        n * (n + 1) * (2 * n + 1) / 24.0 - F.col("tie_sum") / 48.0
    )
    return s.select(
        n.cast("bigint").alias("n_pairs"),
        F.round("w_plus", 2).alias("w_plus"),
        F.round("w_minus", 2).alias("w_minus"),
        F.round(z, 6).alias("z"),
    )


# --------------------------------------------------------------------------
# Bartlett's test: equal quantity variance across return flags?
# --------------------------------------------------------------------------
@query(
    "stats_bartlett",
    oracle="""
    WITH g AS (
      SELECT l_returnflag AS flag,
             CAST(count(*) AS DOUBLE) AS n_g,
             sum(l_quantity) AS sx,
             sum(l_quantity * l_quantity) AS sxx
      FROM lineitem GROUP BY flag
    ),
    v AS (
      SELECT flag, n_g, (sxx - sx * sx / n_g) / (n_g - 1) AS s2 FROM g
    ),
    t AS (
      SELECT sum(n_g) AS n, CAST(count(*) AS DOUBLE) AS k,
             sum((n_g - 1) * s2) AS ss,
             sum((n_g - 1) * ln(s2)) AS sl,
             sum(1.0 / (n_g - 1)) AS si,
             max(s2) / min(s2) AS var_ratio
      FROM v
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           round(ss / (n - k), 6) AS pooled_var,
           round(var_ratio, 6) AS var_ratio,
           round(((n - k) * ln(ss / (n - k)) - sl)
                 / (1.0 + (si - 1.0 / (n - k)) / (3.0 * (k - 1))), 6)
             AS bartlett_t,
           CAST(k - 1 AS BIGINT) AS df
    FROM t
    """,
)
def stats_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's homogeneity-of-variance test on l_quantity across
    return flags: T = ((N−k)ln Sp² − Σ(n_i−1)ln S_i²)/correction,
    chi-square with k−1 df under equal variances. The parametric,
    more powerful (but normality-sensitive) sibling of stats_levene
    already in the registry — shipping both is exactly what a stats
    engine does. Integer sums → group variances are bit-exact, so
    the log-space statistic matches the oracle exactly. One
    aggregation pass, k rows. Ref: reference variance-test coverage
    (cf. stats_levene, stats_anova)."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    g = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("double").alias("n_g"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    v = g.select(
        "flag",
        "n_g",
        ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_g")) / (F.col("n_g") - 1)).alias(
            "s2"
        ),
    )
    t = v.agg(
        F.sum("n_g").alias("n"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum((F.col("n_g") - 1) * F.col("s2")).alias("ss"),
        F.sum((F.col("n_g") - 1) * F.log(F.col("s2"))).alias("sl"),
        F.sum(1.0 / (F.col("n_g") - 1)).alias("si"),
        (F.max("s2") / F.min("s2")).alias("var_ratio"),
    )
    n, k = F.col("n"), F.col("k")
    tstat = ((n - k) * F.log(F.col("ss") / (n - k)) - F.col("sl")) / (
        1.0 + (F.col("si") - 1.0 / (n - k)) / (3.0 * (k - 1))
    )
    return t.select(
        n.cast("bigint").alias("n"),
        k.cast("bigint").alias("k"),
        F.round(F.col("ss") / (n - k), 6).alias("pooled_var"),
        F.round("var_ratio", 6).alias("var_ratio"),
        F.round(tstat, 6).alias("bartlett_t"),
        (k - 1).cast("bigint").alias("df"),
    )
