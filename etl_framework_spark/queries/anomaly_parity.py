"""Contract keys: ``events_anomaly_deseasonalized``,
``vec_cluster_radius``, ``sales_price_parity``.

Deseasonalized anomalies, cluster radius
profile, and cross-nation price parity.

Reference parity: the reference's seasonality-aware monitor, its
cluster-geometry profile, and its price-parity audit — re-expressed
as hour-profile residual z-scores, per-label centroid-distance
rollups, and per-part cross-nation extremes.

Scale notes:

- ``events_anomaly_deseasonalized``: the hour profile is a 24-row
  broadcast; residual z is row-local.
- ``vec_cluster_radius``: centroids from one per-dim rollup;
  distances are row-local folds against the broadcast centroid.
- ``sales_price_parity``: (part, nation) rollup → per-part extremes.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6


# --------------------------------------------------------------------------
# Deseasonalized anomaly counts: raw z vs hour-adjusted z
# --------------------------------------------------------------------------
@query(
    "events_anomaly_deseasonalized",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', date_trunc('second', ts)) AS h,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY h
    ),
    tagged AS (
      SELECT h, x, CAST(hour(h) AS BIGINT) AS hod FROM hourly
    ),
    prof AS (
      SELECT hod, avg(x) AS mu_h FROM tagged GROUP BY hod
    ),
    g AS (
      SELECT avg(x) AS mu,
             stddev_samp(x) AS sd
      FROM tagged
    ),
    resid AS (
      SELECT t.x, t.x - p.mu_h AS e, g.mu, g.sd
      FROM tagged t JOIN prof p ON t.hod = p.hod CROSS JOIN g
    ),
    rs AS (
      SELECT stddev_samp(e) AS sd_e FROM resid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(CASE WHEN abs(r.x - r.mu) > 3 * r.sd
                         THEN 1 ELSE 0 END) AS BIGINT) AS raw_anomalies,
           CAST(sum(CASE WHEN abs(r.e) > 3 * rs.sd_e THEN 1 ELSE 0 END)
                AS BIGINT) AS deseasonalized_anomalies,
           floor(r.sd / rs.sd_e * 10000 + 0.5) / 10000
             AS sigma_reduction_factor
    FROM resid r CROSS JOIN rs GROUP BY r.sd, rs.sd_e
    """,
)
def events_anomaly_deseasonalized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonality-aware anomaly counting: hourly event counts
    flagged at 3σ on the RAW series vs on RESIDUALS after removing
    the hour-of-day profile. The σ reduction factor is how much
    alarm precision the 24-row profile buys — raw z-monitors either
    page every rush hour or (with widened bands) sleep through real
    incidents at 3 a.m. One 24-row broadcast profile + row-local
    residuals. Ref: reference monitoring tests (cf. events_anomaly
    for raw z, events_hour_dow_profile for the profile itself)."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.date_trunc("second", F.col("ts"))).alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    tagged = hourly.select(
        "x", F.hour("h").cast("bigint").alias("hod")
    )
    prof = tagged.groupBy("hod").agg(F.avg("x").alias("mu_h"))
    g = tagged.agg(
        F.avg("x").alias("mu"), F.stddev_samp("x").alias("sd")
    )
    resid = (
        tagged.join(F.broadcast(prof), "hod")
        .crossJoin(F.broadcast(g))
        .select("x", (F.col("x") - F.col("mu_h")).alias("e"), "mu", "sd")
    )
    rs = resid.agg(F.stddev_samp("e").alias("sd_e"))
    j = resid.crossJoin(F.broadcast(rs))
    return j.groupBy("sd", "sd_e").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum(
            F.when(F.abs(F.col("x") - F.col("mu")) > 3 * F.col("sd"), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("raw_anomalies"),
        F.sum(F.when(F.abs(F.col("e")) > 3 * F.col("sd_e"), 1).otherwise(0))
        .cast("bigint")
        .alias("deseasonalized_anomalies"),
        (
            F.floor(F.max("sd") / F.max("sd_e") * 10000.0 + 0.5) / 10000.0
        ).alias("sigma_reduction_factor"),
    ).drop("sd", "sd_e")


# --------------------------------------------------------------------------
# Cluster radius profile per embedding label
# --------------------------------------------------------------------------
@query(
    "vec_cluster_radius",
    oracle="""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    dims AS (
      SELECT label, unnest(generate_series(1, len(v))) AS dim,
             unnest(v) AS val
      FROM e
    ),
    cent AS (
      SELECT label, dim, avg(val) AS c FROM dims GROUP BY label, dim
    ),
    carr AS (
      SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label
    ),
    d AS (
      SELECT e.label,
             sqrt(list_reduce(
               list_transform(range(1, len(e.v) + 1),
                 k -> (e.v[k] - carr.cv[k]) * (e.v[k] - carr.cv[k])),
               (a, b) -> a + b)) AS r
      FROM e JOIN carr ON e.label = carr.label
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           floor(avg(r) * 1000000 + 0.5) / 1000000 AS mean_radius,
           floor(max(r) * 1000000 + 0.5) / 1000000 AS max_radius,
           floor(max(r) / avg(r) * 10000 + 0.5) / 10000
             AS straggler_ratio
    FROM d GROUP BY label ORDER BY label
    """,
)
def vec_cluster_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-radius profile per label: mean and max distance from
    each vector to its own label centroid, and the straggler ratio
    max/mean. Straggler ratio ≫ 1 flags clusters with mislabeled
    outliers parked in them (the cheap relabeling-candidate list),
    while mean radius ranks clusters by compactness. Centroids from
    one per-dim rollup; distances are row-local folds against the
    broadcast centroid — linear scan, no pair join. Ref: reference
    cluster-geometry tests (cf. vec_silhouette_centroid for the
    between/within contrast, vec_ood_mahalanobis for the global
    outlier view)."""
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    dims = e.select(
        "label", F.posexplode("v").alias("d0", "val")
    ).select("label", (F.col("d0") + 1).alias("dim"), "val")
    cent = dims.groupBy("label", "dim").agg(F.avg("val").alias("c"))
    carr = cent.groupBy("label").agg(
        F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("sv")
    ).select("label", F.col("sv.c").alias("cv"))
    j = e.join(F.broadcast(carr), "label")
    diffs = F.transform(
        F.sequence(F.lit(1), F.size("v")),
        lambda k: (F.element_at("v", k) - F.element_at("cv", k))
        * (F.element_at("v", k) - F.element_at("cv", k)),
    )
    rdist = F.sqrt(
        F.aggregate(
            F.slice(diffs, 2, F.size(diffs) - 1),
            F.element_at(diffs, 1),
            lambda a, b: a + b,
        )
    )
    d = j.select("label", rdist.alias("r"))
    q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
    return (
        d.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            q6(F.avg("r")).alias("mean_radius"),
            q6(F.max("r")).alias("max_radius"),
            q4(F.max("r") / F.avg("r")).alias("straggler_ratio"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Cross-nation price parity: the worst arbitrage spreads
# --------------------------------------------------------------------------
@query(
    "sales_price_parity",
    oracle="""
    WITH pn AS (
      SELECT l.l_partkey AS part, s.s_nationkey AS nation,
             avg(l.l_extendedprice / l.l_quantity) AS unit_price,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY part, nation HAVING count(*) >= 3
    ),
    spread AS (
      SELECT part,
             CAST(count(*) AS BIGINT) AS n_nations,
             max(unit_price) / min(unit_price) AS parity_ratio,
             max(unit_price) AS max_price, min(unit_price) AS min_price
      FROM pn GROUP BY part HAVING count(*) >= 3
    )
    SELECT CAST(part AS BIGINT) AS p_partkey, n_nations,
           floor(min_price * 10000 + 0.5) / 10000 AS min_unit_price,
           floor(max_price * 10000 + 0.5) / 10000 AS max_unit_price,
           floor(parity_ratio * 1000000 + 0.5) / 1000000 AS parity_ratio
    FROM spread ORDER BY parity_ratio DESC, part LIMIT 10
    """,
)
def sales_price_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-nation price parity: for parts sold from ≥3 supplier
    nations (≥3 lines each), the ratio of the most- to
    least-expensive nation's average unit price — the top-10
    arbitrage spreads. A persistent ratio ≫ 1 on the same physical
    part is either segmentation pricing or a procurement leak; the
    min-support gates keep one-off quotes out. One (part, nation)
    rollup → per-part extremes. Ref: reference price-parity tests
    (cf. sales_price_dispersion for the within-part view,
    q2_mincost for the cheapest-supplier query)."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pn = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.col("s_nationkey").alias("nation"),
        )
        .agg(
            F.avg(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_price"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .filter(F.col("n") >= 3)
    )
    spread = (
        pn.groupBy("part")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
            (F.max("unit_price") / F.min("unit_price")).alias("parity_ratio"),
            F.max("unit_price").alias("max_price"),
            F.min("unit_price").alias("min_price"),
        )
        .filter(F.col("n_nations") >= 3)
    )
    q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
    return (
        spread.select(
            F.col("part").cast("bigint").alias("p_partkey"),
            "n_nations",
            q4(F.col("min_price")).alias("min_unit_price"),
            q4(F.col("max_price")).alias("max_unit_price"),
            q6(F.col("parity_ratio")).alias("parity_ratio"),
            F.col("parity_ratio").alias("_p"),
        )
        .orderBy(F.desc("_p"), "p_partkey")
        .limit(10)
        .drop("_p")
    )
