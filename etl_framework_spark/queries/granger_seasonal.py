"""Contract keys: ``ts_granger_lite``, ``train_quality_tradeoff``,
``sales_seasonal_index``.

Granger-style predictive screening, the
quality-quantity curation frontier, and seasonal indexing.

Reference parity: the reference's lead-lag causality screen, its
corpus-curation tradeoff report, and its seasonal index — re-
expressed as closed-form two-regressor OLS on lagged rollups, a
threshold-explode aggregation, and ratio-to-overall-mean indexing.

Scale notes:

- ``ts_granger_lite``: lags come from one window over the DAILY
  rollup (30 rows); both the restricted and full regressions are
  Cramer's-rule closed forms on a single ten-moment aggregation —
  no iterative fitting, no matrix library.
- ``train_quality_tradeoff``: every candidate threshold is scored in
  ONE aggregation (docs x broadcast threshold list) — the curve that
  decides where to cut a pretraining corpus.
- ``sales_seasonal_index``: two aggregations (month-of-year rollup +
  its overall mean) and a broadcast join; the classic
  ratio-to-average index.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_F95_1 = 4.0  # ~F(1, large) 95% critical value, honest at n~30: 4.17


# --------------------------------------------------------------------------
# Granger-style screen: do yesterday's clicks predict today's purchases?
# --------------------------------------------------------------------------
@query(
    "ts_granger_lite",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(count(*) FILTER (event_type = 'click') AS DOUBLE) AS x,
             CAST(count(*) FILTER (event_type = 'purchase') AS DOUBLE) AS y
      FROM events GROUP BY day
    ),
    lagged AS (
      SELECT y,
             lag(y) OVER (ORDER BY day) AS y1,
             lag(x) OVER (ORDER BY day) AS x1
      FROM daily
    ),
    c AS (SELECT * FROM lagged WHERE y1 IS NOT NULL AND x1 IS NOT NULL),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(y) AS my, avg(y1) AS m1, avg(x1) AS m2,
             avg(y * y1) AS my1, avg(y * x1) AS my2, avg(y1 * x1) AS m12,
             avg(y * y) AS myy, avg(y1 * y1) AS m11, avg(x1 * x1) AS m22
      FROM c
    ),
    s AS (
      SELECT n,
             my1 - my * m1 AS s1y, my2 - my * m2 AS s2y,
             m11 - m1 * m1 AS s11, m22 - m2 * m2 AS s22,
             m12 - m1 * m2 AS s12, myy - my * my AS syy
      FROM m
    ),
    r AS (
      SELECT n, syy,
             (s1y * s1y / s11) / syy AS r2_restricted,
             ((s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) * s1y
              + (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) * s2y)
               / syy AS r2_full
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(r2_restricted, 6) AS r2_restricted,
           round(r2_full, 6) AS r2_full,
           round(r2_full - r2_restricted, 6) AS r2_gain,
           round((r2_full - r2_restricted) / ((1 - r2_full) / (n - 3)), 6)
             AS f_stat,
           (r2_full - r2_restricted) / ((1 - r2_full) / (n - 3)) > {_F95_1}
             AS granger_signif
    FROM r
    """,
)
def ts_granger_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-style predictive screen: does YESTERDAY's click count
    improve today's purchase-count prediction beyond purchases' own
    lag? Restricted model y~y₋₁ vs full model y~(y₋₁, x₋₁), both as
    Cramer's-rule closed forms on one ten-moment rollup of the
    30-day daily series; the incremental-R² F statistic is the
    screen. Not causality — the cheap necessary condition you run
    before any causal claim. Ref: reference lead-lag tests (cf.
    ts_cross_corr, stats_diff_in_diff)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("double")
        .alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("double")
        .alias("y"),
    )
    wd = W.partitionBy().orderBy("day")
    c = (
        daily.select(
            "y",
            F.lag("y").over(wd).alias("y1"),
            F.lag("x").over(wd).alias("x1"),
        )
        .filter(F.col("y1").isNotNull() & F.col("x1").isNotNull())
    )
    y, y1, x1 = F.col("y"), F.col("y1"), F.col("x1")
    m = c.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg(y).alias("my"),
        F.avg(y1).alias("m1"),
        F.avg(x1).alias("m2"),
        F.avg(y * y1).alias("my1"),
        F.avg(y * x1).alias("my2"),
        F.avg(y1 * x1).alias("m12"),
        F.avg(y * y).alias("myy"),
        F.avg(y1 * y1).alias("m11"),
        F.avg(x1 * x1).alias("m22"),
    )
    s = m.select(
        "n",
        (F.col("my1") - F.col("my") * F.col("m1")).alias("s1y"),
        (F.col("my2") - F.col("my") * F.col("m2")).alias("s2y"),
        (F.col("m11") - F.col("m1") * F.col("m1")).alias("s11"),
        (F.col("m22") - F.col("m2") * F.col("m2")).alias("s22"),
        (F.col("m12") - F.col("m1") * F.col("m2")).alias("s12"),
        (F.col("myy") - F.col("my") * F.col("my")).alias("syy"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = (F.col("s1y") * F.col("s22") - F.col("s2y") * F.col("s12")) / det
    b2 = (F.col("s2y") * F.col("s11") - F.col("s1y") * F.col("s12")) / det
    r2r = (F.col("s1y") * F.col("s1y") / F.col("s11")) / F.col("syy")
    r2f = (b1 * F.col("s1y") + b2 * F.col("s2y")) / F.col("syy")
    fstat = (r2f - r2r) / ((1 - r2f) / (F.col("n") - 3))
    return s.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(r2r, 6).alias("r2_restricted"),
        F.round(r2f, 6).alias("r2_full"),
        F.round(r2f - r2r, 6).alias("r2_gain"),
        F.round(fstat, 6).alias("f_stat"),
        (fstat > _F95_1).alias("granger_signif"),
    )


# --------------------------------------------------------------------------
# Quality-vs-quantity curation frontier
# --------------------------------------------------------------------------
@query(
    "train_quality_tradeoff",
    oracle="""
    WITH scored AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS score
      FROM documents
    ),
    qs AS (
      SELECT quantile_cont(score,
               [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS q
      FROM scored
    ),
    th AS (SELECT round(i / 10.0, 1) AS p, q[i] AS thr
           FROM qs, generate_series(1, 9) g(i))
    SELECT p AS cut_percentile,
           round(thr, 6) AS score_threshold,
           CAST(count(*) FILTER (score >= thr) AS BIGINT) AS docs_kept,
           round(CAST(sum(n_tok) FILTER (score >= thr) AS DOUBLE)
                 / sum(n_tok), 6) AS tokens_kept_share,
           round(avg(CASE WHEN score >= thr THEN score END), 6)
             AS mean_score_kept
    FROM scored CROSS JOIN th GROUP BY p, thr
    """,
)
def train_quality_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation frontier: cutting the corpus at each decile of a
    quality score (unique-word ratio), how many documents and what
    TOKEN share survive, and how much the surviving mean quality
    rises — the curve every pretraining data decision reads before
    choosing its threshold (quality up, tokens down: where's the
    knee?). All nine candidate cuts score in ONE aggregation (docs x
    broadcast thresholds). Ref: reference curation-tradeoff tests
    (cf. llm_quality_filter, train_budget_select,
    train_truncation_loss)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = docs.select(
        F.size(toks).cast("bigint").alias("n_tok"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "score"
        ),
    )
    ps = F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
    qs = scored.agg(F.percentile("score", ps).alias("q"))
    th = qs.select(F.posexplode("q").alias("pos", "thr")).select(
        F.round((F.col("pos") + 1) / 10.0, 1).alias("p"), "thr"
    )
    j = scored.crossJoin(F.broadcast(th))
    kept = F.col("score") >= F.col("thr")
    return j.groupBy(F.col("p").alias("cut_percentile"), "thr").agg(
        F.count(F.when(kept, 1)).cast("bigint").alias("docs_kept"),
        F.round(
            F.sum(F.when(kept, F.col("n_tok"))).cast("double") / F.sum("n_tok"),
            6,
        ).alias("tokens_kept_share"),
        F.round(F.avg(F.when(kept, F.col("score"))), 6).alias(
            "mean_score_kept"
        ),
    ).select(
        "cut_percentile",
        F.round("thr", 6).alias("score_threshold"),
        "docs_kept",
        "tokens_kept_share",
        "mean_score_kept",
    )


# --------------------------------------------------------------------------
# Month-of-year seasonal index of shipped revenue
# --------------------------------------------------------------------------
@query(
    "sales_seasonal_index",
    oracle="""
    WITH monthly AS (
      SELECT CAST(month(l_shipdate) AS BIGINT) AS moy,
             CAST(year(l_shipdate) AS BIGINT) AS yr,
             sum(l_extendedprice) AS rev
      FROM lineitem GROUP BY moy, yr
    ),
    idx AS (
      SELECT moy, CAST(count(*) AS BIGINT) AS n_years,
             avg(rev) AS avg_rev
      FROM monthly GROUP BY moy
    ),
    tot AS (SELECT avg(avg_rev) AS grand FROM idx)
    SELECT moy AS month_of_year, n_years,
           round(avg_rev, 2) AS avg_monthly_revenue,
           round(avg_rev / tot.grand, 6) AS seasonal_index
    FROM idx, tot
    """,
)
def sales_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonal index of shipped revenue: each month's
    multi-year average revenue over the grand mean of those twelve
    averages — index 1.10 means 'this month runs 10% hot', the
    number demand planning multiplies into every forecast. Two
    rollups (month-year, then month) + a broadcast scalar; averaging
    per-year revenues first keeps partially-observed years from
    biasing months unequally. Ref: reference seasonal-index tests
    (cf. events_seasonality, ts_decompose)."""
    li = table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.month("l_shipdate").cast("bigint").alias("moy"),
        F.year("l_shipdate").cast("bigint").alias("yr"),
    ).agg(F.sum("l_extendedprice").alias("rev"))
    idx = monthly.groupBy("moy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_years"),
        F.avg("rev").alias("avg_rev"),
    )
    tot = idx.agg(F.avg("avg_rev").alias("grand"))
    return idx.crossJoin(F.broadcast(tot)).select(
        F.col("moy").alias("month_of_year"),
        "n_years",
        F.round("avg_rev", 2).alias("avg_monthly_revenue"),
        F.round(F.col("avg_rev") / F.col("grand"), 6).alias("seasonal_index"),
    )
