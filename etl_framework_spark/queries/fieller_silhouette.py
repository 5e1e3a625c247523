"""Contract keys: ``stats_fieller_ratio_ci``, ``vec_silhouette_centroid``,
``events_error_under_load``.

Ratio-of-means confidence intervals, centroid
silhouettes, and error-under-load correlation.

Reference parity: the reference's ratio-metric inference, its
cluster-quality score, and its reliability-under-load audit — re-
expressed as Fieller's closed form, centroid-distance rollups, and
hourly load/error moments.

Scale notes:

- ``stats_fieller_ratio_ci``: the honest CI for revenue-per-order —
  a RATIO of two correlated means — is Fieller's quadratic, and all
  of it comes from one per-group moments pass (means, variances,
  covariance of the numerator and denominator per order).
- ``vec_silhouette_centroid``: the centroid-based silhouette
  (a = dist to own centroid, b = min dist to another) needs only
  |labels| centroids broadcast against one per-vector pass — the
  O(n·k·d) simplification that makes silhouettes computable where
  the O(n²) pairwise version can't run.
- ``events_error_under_load``: hourly load vs error-rate moments in
  one rollup; the slope answers 'do we fail more when busy'.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_Z95 = 1.959963984540054
_N_SUB = 64


# --------------------------------------------------------------------------
# Fieller CI for revenue-per-line (ratio of correlated means)
# --------------------------------------------------------------------------
@query(
    "stats_fieller_ratio_ci",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag AS f, CAST(count(*) AS DOUBLE) AS n,
             avg(l_extendedprice) AS mr, avg(l_quantity) AS mq,
             var_samp(l_extendedprice) AS vr, var_samp(l_quantity) AS vq,
             covar_samp(l_extendedprice, l_quantity) AS c
      FROM lineitem GROUP BY f
    ),
    g AS (
      SELECT f, n, mr, mq,
             mr / mq AS ratio,
             mq * mq - {_Z95} * {_Z95} * vq / n AS gden,
             (mr * mq - {_Z95} * {_Z95} * c / n) AS gmid,
             (mr * mr - {_Z95} * {_Z95} * vr / n) AS gnum
      FROM m
    )
    SELECT f AS l_returnflag,
           CAST(n AS BIGINT) AS n,
           round(ratio, 6) AS price_per_unit,
           round((gmid - sqrt(gmid * gmid - gden * gnum)) / gden, 6)
             AS fieller_lo,
           round((gmid + sqrt(gmid * gmid - gden * gnum)) / gden, 6)
             AS fieller_hi,
           gden > 0 AS ci_is_finite
    FROM g
    """,
)
def stats_fieller_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fieller's confidence interval for price-per-unit — a RATIO of
    two correlated means (mean price / mean quantity) per return
    flag: the delta-method shortcut understates ratio uncertainty
    and can't handle a denominator near zero; Fieller's quadratic
    (g-method) is the exact small-sample answer, and gden > 0 is its
    own finiteness check. Everything comes from one per-group
    moments pass including the numerator-denominator covariance.
    Ref: reference ratio-inference tests (cf. sales_elasticity's
    ratio-bias note, stats_rate_ci)."""
    li = table(spark, sf_dir, "lineitem")
    m = li.groupBy(F.col("l_returnflag").alias("f")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("l_extendedprice").alias("mr"),
        F.avg("l_quantity").alias("mq"),
        F.var_samp("l_extendedprice").alias("vr"),
        F.var_samp("l_quantity").alias("vq"),
        F.covar_samp("l_extendedprice", "l_quantity").alias("c"),
    )
    z2 = _Z95 * _Z95
    gden = F.col("mq") * F.col("mq") - z2 * F.col("vq") / F.col("n")
    gmid = F.col("mr") * F.col("mq") - z2 * F.col("c") / F.col("n")
    gnum = F.col("mr") * F.col("mr") - z2 * F.col("vr") / F.col("n")
    disc = F.sqrt(gmid * gmid - gden * gnum)
    return m.select(
        F.col("f").alias("l_returnflag"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("mr") / F.col("mq"), 6).alias("price_per_unit"),
        F.round((gmid - disc) / gden, 6).alias("fieller_lo"),
        F.round((gmid + disc) / gden, 6).alias("fieller_hi"),
        (gden > 0).alias("ci_is_finite"),
    )


# --------------------------------------------------------------------------
# Centroid-based silhouette score per label
# --------------------------------------------------------------------------
@query(
    "vec_silhouette_centroid",
    oracle=f"""
    WITH dims AS (
      SELECT vec_id, label, g.i AS dim,
             CAST(embedding[g.i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN generate_series(1, {_N_SUB}) g(i)
    ),
    cent AS (
      SELECT label AS clabel, dim, avg(x) AS mu
      FROM dims GROUP BY clabel, dim
    ),
    d AS (
      SELECT dims.vec_id, dims.label, cent.clabel,
             sum((dims.x - cent.mu) * (dims.x - cent.mu)) AS d2
      FROM dims JOIN cent ON dims.dim = cent.dim
      GROUP BY dims.vec_id, dims.label, cent.clabel
    ),
    ab AS (
      SELECT vec_id, label,
             sqrt(min(CASE WHEN clabel = label THEN d2 END)) AS a,
             sqrt(min(CASE WHEN clabel <> label THEN d2 END)) AS b
      FROM d GROUP BY vec_id, label
    ),
    sil AS (
      SELECT label,
             (b - a) / (CASE WHEN a > b THEN a ELSE b END) AS s
      FROM ab
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(s), 6) AS mean_silhouette,
           round(min(s), 6) AS min_silhouette,
           CAST(count(*) FILTER (s < 0) AS BIGINT) AS n_misplaced
    FROM sil GROUP BY label
    """,
)
def vec_silhouette_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette per label: s = (b − a)/max(a, b)
    with a = distance to the OWN label's centroid and b = distance
    to the nearest OTHER centroid — the O(n·k·d) simplification of
    the silhouette that stays computable when the O(n²) pairwise
    version can't, and the per-label mean plus the count of
    negative-s (closer to a foreign centroid than their own) vectors
    is the label-quality report. Centroids are one explode rollup
    broadcast back; distances accumulate per (vector, centroid).
    Ref: reference cluster-quality tests (cf. llm_cluster_purity,
    vec_ood_mahalanobis)."""
    emb = table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "xf")
    ).select(
        "vec_id",
        "label",
        F.col("pos").alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    cent = dims.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.avg("x").alias("mu")
    )
    d = (
        dims.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(
                (F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu"))
            ).alias("d2")
        )
    )
    ab = d.groupBy("vec_id", "label").agg(
        F.sqrt(
            F.min(F.when(F.col("clabel") == F.col("label"), F.col("d2")))
        ).alias("a"),
        F.sqrt(
            F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2")))
        ).alias("b"),
    )
    s = (F.col("b") - F.col("a")) / F.when(
        F.col("a") > F.col("b"), F.col("a")
    ).otherwise(F.col("b"))
    sil = ab.select("label", s.alias("s"))
    return sil.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.round(F.avg("s"), 6).alias("mean_silhouette"),
        F.round(F.min("s"), 6).alias("min_silhouette"),
        F.count(F.when(F.col("s") < 0, 1)).cast("bigint").alias("n_misplaced"),
    )


# --------------------------------------------------------------------------
# Error rate under load: do busy hours fail more?
# --------------------------------------------------------------------------
@query(
    "events_error_under_load",
    oracle="""
    WITH hourly AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             CAST(count(*) AS DOUBLE) AS load,
             CAST(count(*) FILTER (event_type = 'error') AS DOUBLE) AS errs
      FROM events GROUP BY h
    ),
    r AS (SELECT load, errs / load AS erate FROM hourly),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_hours,
             avg(load) AS ml, avg(erate) AS me,
             avg(load * erate) AS mle,
             avg(load * load) AS mll, avg(erate * erate) AS mee
      FROM r
    )
    SELECT n_hours,
           round(me, 6) AS mean_error_rate,
           round((mle - ml * me) / (mll - ml * ml), 6)
             AS erate_per_extra_event,
           round((mle - ml * me)
                 / sqrt((mll - ml * ml) * (mee - me * me)), 6)
             AS load_erate_corr,
           (mle - ml * me)
             / sqrt((mll - ml * ml) * (mee - me * me)) > 0.3
             AS degrades_under_load
    FROM m
    """,
)
def events_error_under_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability under load: regress each hour's ERROR RATE on its
    total event load — a positive slope/correlation means the system
    degrades when busy (queue saturation, contention), a flat one
    means errors are load-independent (bugs, not capacity); this
    distinction decides whether the fix is autoscaling or
    debugging. One hourly rollup + moment closed forms. Ref:
    reference reliability-audit tests (cf.
    events_capacity_headroom, events_alarm_hysteresis)."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("h")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("load"),
        F.count(F.when(F.col("event_type") == "error", 1))
        .cast("double")
        .alias("errs"),
    )
    r = hourly.select(
        "load", (F.col("errs") / F.col("load")).alias("erate")
    )
    m = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.avg("load").alias("ml"),
        F.avg("erate").alias("me"),
        F.avg(F.col("load") * F.col("erate")).alias("mle"),
        F.avg(F.col("load") * F.col("load")).alias("mll"),
        F.avg(F.col("erate") * F.col("erate")).alias("mee"),
    )
    cov = F.col("mle") - F.col("ml") * F.col("me")
    varl = F.col("mll") - F.col("ml") * F.col("ml")
    vare = F.col("mee") - F.col("me") * F.col("me")
    corr = cov / F.sqrt(varl * vare)
    return m.select(
        "n_hours",
        F.round("me", 6).alias("mean_error_rate"),
        F.round(cov / varl, 6).alias("erate_per_extra_event"),
        F.round(corr, 6).alias("load_erate_corr"),
        (corr > 0.3).alias("degrades_under_load"),
    )
