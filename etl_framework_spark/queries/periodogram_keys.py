"""Contract keys: ``ts_periodogram``, ``dq_candidate_keys``,
``stats_cluster_se``.

Fixed-frequency periodogram, candidate-key
profiling, and cluster-robust standard errors.

Reference parity: the reference's spectral seasonality probe, its
schema-profiling (key discovery) utility, and its clustered-variance
estimator — re-expressed as conditional trig aggregations, unioned
distinct-count rollups, and a per-cluster sandwich formula.

Scale notes:

- ``ts_periodogram``: the power at k candidate periods is k pairs of
  (Σx·cos, Σx·sin) sums — ONE aggregation over the hourly rollup
  crossed with a k-row broadcast period list; no FFT machinery, no
  shuffle beyond the rollup. Exactly the probe you run before paying
  for a full spectral decomposition at scale.
- ``dq_candidate_keys``: each candidate combo is a count-distinct
  aggregate; Spark runs them as independent partial-agg pipelines
  over one scan lineage and unions the 1-row results.
- ``stats_cluster_se``: users are the natural correlation clusters —
  the sandwich Σ(S_g − n_g·μ)²/N² needs only the per-cluster rollup,
  so the robust SE costs one extra small aggregation over the naive
  one. The design effect quantifies how wrong the naive SE was.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_PI = 3.141592653589793
_PERIODS_H = [12, 24, 84, 168, 360]  # candidate periods (hours)


# --------------------------------------------------------------------------
# Periodogram at fixed candidate periods over hourly event counts
# --------------------------------------------------------------------------
@query(
    "ts_periodogram",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) / 3600
               AS h,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY h
    ),
    base AS (
      SELECT h - min(h) OVER () AS t,
             x - avg(x) OVER () AS xc
      FROM hourly
    ),
    periods AS (SELECT unnest([{", ".join(str(p) for p in _PERIODS_H)}])
                  AS period_h),
    terms AS (
      SELECT period_h,
             sum(xc * cos(2 * {_PI} * t / period_h)) AS cs,
             sum(xc * sin(2 * {_PI} * t / period_h)) AS sn,
             CAST(count(*) AS BIGINT) AS n_points
      FROM base CROSS JOIN periods GROUP BY period_h
    ),
    p AS (SELECT period_h, n_points, cs * cs + sn * sn AS power FROM terms)
    SELECT CAST(period_h AS BIGINT) AS period_h, n_points,
           round(power, 4) AS power,
           round(power / sum(power) OVER (), 6) AS power_share
    FROM p
    """,
)
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral power of the hourly event-count series at five
    candidate periods (12 h, daily, half-week, weekly, 15 d):
    |Σ x̃·e^{-iωt}|² per period on the MEAN-CENTERED series — the
    cheap probe that says 'daily seasonality dominates' before any
    full decomposition. One trig aggregation over the 720-row hourly
    rollup crossed with the broadcast period list; identical cos/sin
    expression order on both engines. The variance-ratio twin is
    ts_seasonal_strength; this one localizes WHICH period. Ref:
    reference spectral-probe tests."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        (
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600
        ).cast("bigint").alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    wall = W.partitionBy()
    base = hourly.select(
        (F.col("h") - F.min("h").over(wall)).alias("t"),
        (F.col("x") - F.avg("x").over(wall)).alias("xc"),
    )
    periods = (
        spark.range(len(_PERIODS_H))
        .select(
            F.element_at(
                F.array(*[F.lit(p) for p in _PERIODS_H]), (F.col("id") + 1).cast("int")
            ).alias("period_h")
        )
    )
    terms = (
        base.crossJoin(F.broadcast(periods))
        .groupBy("period_h")
        .agg(
            F.sum(
                F.col("xc") * F.cos(2 * _PI * F.col("t") / F.col("period_h"))
            ).alias("cs"),
            F.sum(
                F.col("xc") * F.sin(2 * _PI * F.col("t") / F.col("period_h"))
            ).alias("sn"),
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
        )
    )
    p = terms.select(
        "period_h",
        "n_points",
        (F.col("cs") * F.col("cs") + F.col("sn") * F.col("sn")).alias("power"),
    )
    return p.select(
        F.col("period_h").cast("bigint").alias("period_h"),
        "n_points",
        F.round("power", 4).alias("power"),
        F.round(F.col("power") / F.sum("power").over(wall), 6).alias(
            "power_share"
        ),
    )


# --------------------------------------------------------------------------
# Candidate-key discovery over the orders table
# --------------------------------------------------------------------------
_KEY_COMBOS = [
    ("o_orderkey", ["o_orderkey"]),
    ("o_custkey", ["o_custkey"]),
    ("o_orderdate", ["o_orderdate"]),
    ("o_custkey+o_orderdate", ["o_custkey", "o_orderdate"]),
    ("o_status+o_priority", ["o_orderstatus", "o_orderpriority"]),
    ("o_custkey+o_totalprice", ["o_custkey", "o_totalprice"]),
]


def _combo_sql(label: str, cols: list[str]) -> str:
    expr = ", ".join(cols)
    return f"""
    SELECT '{label}' AS candidate,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT ({expr})) AS BIGINT) AS n_distinct,
           count(*) = count(DISTINCT ({expr})) AS is_key,
           round(1 - CAST(count(DISTINCT ({expr})) AS DOUBLE) / count(*), 6)
             AS dup_ratio
    FROM orders"""


@query(
    "dq_candidate_keys",
    oracle=" UNION ALL ".join(_combo_sql(l, c) for l, c in _KEY_COMBOS),
)
def dq_candidate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery: for six column combinations of
    orders, the distinct count vs the row count decides whether the
    combo is a key and how much duplication it carries — the first
    question schema profiling answers before choosing join keys or
    dedup columns. Each combo is an exact count-distinct aggregate
    (integer arithmetic); Spark unions the six 1-row rollups computed
    over the same scan lineage. o_orderkey must profile as the only
    single-column key. Ref: reference schema-profiler tests (cf.
    profile_lineitem, dq_kanon)."""
    od = table(spark, sf_dir, "orders")
    parts = []
    for label, cols in _KEY_COMBOS:
        nd = F.countDistinct(*[F.col(c) for c in cols])
        parts.append(
            od.agg(
                F.lit(label).alias("candidate"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                nd.cast("bigint").alias("n_distinct"),
                (F.count(F.lit(1)) == nd).alias("is_key"),
                F.round(
                    1 - nd.cast("double") / F.count(F.lit(1)), 6
                ).alias("dup_ratio"),
            )
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionAll(df)
    return out


# --------------------------------------------------------------------------
# Cluster-robust standard error of the mean (users = clusters)
# --------------------------------------------------------------------------
@query(
    "stats_cluster_se",
    oracle="""
    WITH g AS (
      SELECT event_type, user_id,
             sum(value) AS s_g,
             CAST(count(*) AS DOUBLE) AS n_g
      FROM events GROUP BY event_type, user_id
    ),
    t AS (
      SELECT event_type,
             sum(s_g) / sum(n_g) AS mu,
             sum(n_g) AS n,
             CAST(count(*) AS DOUBLE) AS n_clusters
      FROM g GROUP BY event_type
    ),
    v AS (
      SELECT t.event_type, t.mu, t.n, t.n_clusters,
             sum((g.s_g - g.n_g * t.mu) * (g.s_g - g.n_g * t.mu)) AS meat
      FROM g JOIN t ON g.event_type = t.event_type
      GROUP BY t.event_type, t.mu, t.n, t.n_clusters
    ),
    naive AS (
      SELECT event_type, var_samp(value) AS vv FROM events
      GROUP BY event_type
    )
    SELECT v.event_type,
           CAST(v.n AS BIGINT) AS n_events,
           CAST(v.n_clusters AS BIGINT) AS n_clusters,
           round(v.mu, 6) AS mean_value,
           round(sqrt(naive.vv / v.n), 6) AS se_naive,
           round(sqrt(v.meat) / v.n, 6) AS se_cluster,
           round((sqrt(v.meat) / v.n) * (sqrt(v.meat) / v.n)
                 / (naive.vv / v.n), 6) AS design_effect
    FROM v JOIN naive ON v.event_type = naive.event_type
    """,
)
def stats_cluster_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-robust (sandwich) standard error of the mean event
    value per type, with users as the correlation clusters:
    SE_cl = sqrt(Σ_g (S_g − n_g·μ)²)/N. When observations within a
    user correlate, the naive sd/√n SE understates uncertainty — the
    design effect (SE_cl/SE_naive)² is the honest inflation factor
    every clustered A/B analysis needs. Costs one per-user rollup +
    one small join beyond the naive estimate. Ref: reference
    clustered-variance tests (cf. stats_cuped, events_ab_test)."""
    ev = table(spark, sf_dir, "events")
    g = ev.groupBy("event_type", "user_id").agg(
        F.sum("value").alias("s_g"),
        F.count(F.lit(1)).cast("double").alias("n_g"),
    )
    t = g.groupBy("event_type").agg(
        (F.sum("s_g") / F.sum("n_g")).alias("mu"),
        F.sum("n_g").alias("n"),
        F.count(F.lit(1)).cast("double").alias("n_clusters"),
    )
    v = (
        g.join(F.broadcast(t), "event_type")
        .groupBy("event_type", "mu", "n", "n_clusters")
        .agg(
            F.sum(
                (F.col("s_g") - F.col("n_g") * F.col("mu"))
                * (F.col("s_g") - F.col("n_g") * F.col("mu"))
            ).alias("meat")
        )
    )
    naive = ev.groupBy("event_type").agg(F.var_samp("value").alias("vv"))
    se_cl = F.sqrt(F.col("meat")) / F.col("n")
    return v.join(F.broadcast(naive), "event_type").select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("n_clusters").cast("bigint").alias("n_clusters"),
        F.round("mu", 6).alias("mean_value"),
        F.round(F.sqrt(F.col("vv") / F.col("n")), 6).alias("se_naive"),
        F.round(se_cl, 6).alias("se_cluster"),
        F.round(se_cl * se_cl / (F.col("vv") / F.col("n")), 6).alias(
            "design_effect"
        ),
    )
