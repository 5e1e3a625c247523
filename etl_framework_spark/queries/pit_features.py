"""Contract keys: ``feat_pit_training_set``, ``stats_partial_corr``,
``stats_eb_shrinkage``.

Point-in-time feature extraction, partial
correlation, and empirical-Bayes shrinkage.

Reference parity: the reference's feature-store as-of join, its
partialled-out correlation, and its small-n rate correction —
re-expressed as preceding-frame windows, a three-correlation closed
form, and a method-of-moments Beta prior.

Scale notes:

- ``feat_pit_training_set``: every feature is a ROWS UNBOUNDED
  PRECEDING..1 PRECEDING window over the user's own stream — by
  construction nothing after the label event leaks in, and all
  features share ONE (user, time) sort. This is the point-in-time
  join a feature store exists to get right.
- ``stats_partial_corr``: all three pairwise correlations come from
  ONE moments rollup; the partialling formula is scalar arithmetic.
- ``stats_eb_shrinkage``: the Beta prior is fitted by method of
  moments on the per-supplier rate rollup (two passes over |suppliers|
  rows); the shrunk estimates are expression work — no iteration,
  no per-row fitting.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6


# --------------------------------------------------------------------------
# Point-in-time-correct training set for purchase events
# --------------------------------------------------------------------------
@query(
    "feat_pit_training_set",
    oracle="""
    WITH seq AS (
      SELECT event_id, user_id, event_type, value,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t
      FROM events
    ),
    feat AS (
      SELECT event_id, user_id, event_type, value, t,
             count(*) OVER w AS f_prior_events,
             floor(sum(value) OVER w * 10000 + 0.5) / 10000
               AS f_prior_sum_q,
             min(t) OVER w AS first_t
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id,
           floor(value * 1000000 + 0.5) / 1000000 AS label_value,
           CAST(coalesce(f_prior_events, 0) AS BIGINT) AS f_prior_events,
           floor(CASE WHEN f_prior_events > 0
                      THEN f_prior_sum_q / f_prior_events
                      ELSE 0.0 END * 1000000 + 0.5) / 1000000
             AS f_prior_avg_value,
           CAST(coalesce(t - first_t, 0) AS BIGINT) AS f_active_seconds
    FROM feat WHERE event_type = 'purchase'
    """,
)
def feat_pit_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training rows: for every purchase event,
    the user's feature vector computed STRICTLY BEFORE the event —
    prior event count, prior mean value, seconds since first seen —
    via ROWS UNBOUNDED PRECEDING..1 PRECEDING frames over the user's
    own stream. Leakage is impossible by frame construction (the
    label row never sees itself or its future), and all three
    features share one (user, time, event_id) sort — the property a
    feature store's as-of join exists to guarantee, here as a single
    window pass. Ref: reference feature-store tests (cf. join_asof,
    events_ewma_state)."""
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("t"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    feat = seq.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "t",
        F.count(F.lit(1)).over(w).alias("f_prior_events"),
        (
            F.floor(F.sum("value").over(w) * F.lit(10000.0) + F.lit(0.5))
            / F.lit(10000.0)
        ).alias("f_prior_sum_q"),
        F.min("t").over(w).alias("first_t"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        q6(F.col("value")).alias("label_value"),
        F.coalesce(F.col("f_prior_events"), F.lit(0))
        .cast("bigint")
        .alias("f_prior_events"),
        q6(
            F.when(
                F.col("f_prior_events") > 0,
                F.col("f_prior_sum_q") / F.col("f_prior_events"),
            ).otherwise(F.lit(0.0))
        ).alias("f_prior_avg_value"),
        F.coalesce(F.col("t") - F.col("first_t"), F.lit(0))
        .cast("bigint")
        .alias("f_active_seconds"),
    )


# --------------------------------------------------------------------------
# Partial correlation: quantity ~ price, controlling for discount
# --------------------------------------------------------------------------
@query(
    "stats_partial_corr",
    oracle="""
    WITH m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             avg(l_quantity) AS mx, avg(l_extendedprice) AS my,
             avg(l_discount) AS mz,
             avg(l_quantity * l_extendedprice) AS mxy,
             avg(l_quantity * l_discount) AS mxz,
             avg(l_extendedprice * l_discount) AS myz,
             avg(l_quantity * l_quantity) AS mxx,
             avg(l_extendedprice * l_extendedprice) AS myy,
             avg(l_discount * l_discount) AS mzz
      FROM lineitem
    ),
    r AS (
      SELECT n,
             (mxy - mx * my) / sqrt((mxx - mx * mx) * (myy - my * my))
               AS rxy,
             (mxz - mx * mz) / sqrt((mxx - mx * mx) * (mzz - mz * mz))
               AS rxz,
             (myz - my * mz) / sqrt((myy - my * my) * (mzz - mz * mz))
               AS ryz
      FROM m
    )
    SELECT n,
           round(rxy, 6) AS r_xy,
           round(rxz, 6) AS r_xz,
           round(ryz, 6) AS r_yz,
           round((rxy - rxz * ryz)
                 / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
             AS r_xy_given_z
    FROM r
    """,
)
def stats_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of quantity and extended price CONTROLLING
    for discount: r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) —
    the one-line answer to 'is the quantity-price relationship real
    or is discount driving both?'. All three pairwise correlations
    come from ONE ten-moment aggregation (a single shuffle); the
    partialling is scalar arithmetic on the 1-row rollup. Ref:
    reference partialled-correlation tests (cf. stats_corr_matrix,
    stats_simpsons)."""
    li = table(spark, sf_dir, "lineitem")
    x, y, z = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    m = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg(x).alias("mx"),
        F.avg(y).alias("my"),
        F.avg(z).alias("mz"),
        F.avg(x * y).alias("mxy"),
        F.avg(x * z).alias("mxz"),
        F.avg(y * z).alias("myz"),
        F.avg(x * x).alias("mxx"),
        F.avg(y * y).alias("myy"),
        F.avg(z * z).alias("mzz"),
    )
    def corr(mab, ma, mb, maa, mbb):
        return (F.col(mab) - F.col(ma) * F.col(mb)) / F.sqrt(
            (F.col(maa) - F.col(ma) * F.col(ma))
            * (F.col(mbb) - F.col(mb) * F.col(mb))
        )

    r = m.select(
        "n",
        corr("mxy", "mx", "my", "mxx", "myy").alias("rxy"),
        corr("mxz", "mx", "mz", "mxx", "mzz").alias("rxz"),
        corr("myz", "my", "mz", "myy", "mzz").alias("ryz"),
    )
    partial = (F.col("rxy") - F.col("rxz") * F.col("ryz")) / F.sqrt(
        (1 - F.col("rxz") * F.col("rxz")) * (1 - F.col("ryz") * F.col("ryz"))
    )
    return r.select(
        "n",
        F.round("rxy", 6).alias("r_xy"),
        F.round("rxz", 6).alias("r_xz"),
        F.round("ryz", 6).alias("r_yz"),
        F.round(partial, 6).alias("r_xy_given_z"),
    )


# --------------------------------------------------------------------------
# Empirical-Bayes shrinkage of per-supplier return rates
# --------------------------------------------------------------------------
@query(
    "stats_eb_shrinkage",
    oracle="""
    WITH s AS (
      SELECT l_suppkey AS sk,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(count(*) FILTER (l_returnflag = 'R') AS DOUBLE) AS x
      FROM lineitem GROUP BY sk
    ),
    prior AS (
      SELECT avg(x / n) AS mu, var_samp(x / n) AS v, avg(n) AS nbar
      FROM s
    ),
    ab AS (
      SELECT mu, v,
             CASE WHEN v > 0 AND mu * (1 - mu) > v
                  THEN mu * (mu * (1 - mu) / v - 1) ELSE 1.0 END AS alpha,
             CASE WHEN v > 0 AND mu * (1 - mu) > v
                  THEN (1 - mu) * (mu * (1 - mu) / v - 1) ELSE 1.0 END
               AS beta
      FROM prior
    ),
    sh AS (
      SELECT s.sk, s.n, s.x, ab.alpha, ab.beta, ab.mu,
             (s.x + ab.alpha) / (s.n + ab.alpha + ab.beta) AS shrunk,
             s.x / s.n AS raw
      FROM s CROSS JOIN ab
    )
    SELECT CAST(count(*) AS BIGINT) AS n_suppliers,
           round(max(alpha), 6) AS prior_alpha,
           round(max(beta), 6) AS prior_beta,
           round(max(mu), 6) AS prior_mean,
           round(avg(abs(raw - mu)), 6) AS mean_abs_dev_raw,
           round(avg(abs(shrunk - mu)), 6) AS mean_abs_dev_shrunk,
           CAST(count(*) FILTER (abs(shrunk - mu) < abs(raw - mu))
                AS BIGINT) AS n_pulled_in
    FROM sh
    """,
)
def stats_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-supplier return rates: fit a
    Beta prior by method of moments on the rate distribution, then
    shrink each supplier to (x+α)/(n+α+β) — the small-n correction
    that stops a 3-lineitem supplier with one return from topping the
    'worst suppliers' list. The report quantifies the effect: mean
    absolute deviation from the prior mean before vs after, and how
    many suppliers moved toward it (all of them, by construction of
    the posterior mean). Prior fit = two passes over the |suppliers|
    rollup; shrinkage is expression work. Ref: reference shrinkage
    tests (cf. llm_quality_by_source)."""
    li = table(spark, sf_dir, "lineitem")
    s = li.groupBy(F.col("l_suppkey").alias("sk")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.when(F.col("l_returnflag") == "R", 1))
        .cast("double")
        .alias("x"),
    )
    prior = s.agg(
        F.avg(F.col("x") / F.col("n")).alias("mu"),
        F.var_samp(F.col("x") / F.col("n")).alias("v"),
    )
    ok = (F.col("v") > 0) & (F.col("mu") * (1 - F.col("mu")) > F.col("v"))
    kappa = F.col("mu") * (1 - F.col("mu")) / F.col("v") - 1
    ab = prior.select(
        "mu",
        "v",
        F.when(ok, F.col("mu") * kappa).otherwise(F.lit(1.0)).alias("alpha"),
        F.when(ok, (1 - F.col("mu")) * kappa).otherwise(F.lit(1.0)).alias(
            "beta"
        ),
    )
    sh = s.crossJoin(F.broadcast(ab)).select(
        "sk",
        "alpha",
        "beta",
        "mu",
        ((F.col("x") + F.col("alpha")) / (F.col("n") + F.col("alpha") + F.col("beta"))).alias(
            "shrunk"
        ),
        (F.col("x") / F.col("n")).alias("raw"),
    )
    return sh.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.round(F.max("alpha"), 6).alias("prior_alpha"),
        F.round(F.max("beta"), 6).alias("prior_beta"),
        F.round(F.max("mu"), 6).alias("prior_mean"),
        F.round(F.avg(F.abs(F.col("raw") - F.col("mu"))), 6).alias(
            "mean_abs_dev_raw"
        ),
        F.round(F.avg(F.abs(F.col("shrunk") - F.col("mu"))), 6).alias(
            "mean_abs_dev_shrunk"
        ),
        F.count(
            F.when(
                F.abs(F.col("shrunk") - F.col("mu"))
                < F.abs(F.col("raw") - F.col("mu")),
                1,
            )
        )
        .cast("bigint")
        .alias("n_pulled_in"),
    )
