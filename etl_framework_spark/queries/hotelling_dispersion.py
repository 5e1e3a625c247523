"""Contract keys: ``vec_hotelling_diag``, ``sales_price_dispersion``,
``dq_constant_column_detect``.

Diagonal Hotelling T², price dispersion, and
constant-column detection.

Reference parity: the reference's multivariate mean test, its
pricing-consistency audit, and its column-health monitor — re-
expressed as per-dimension moment rollups, unit-price CV ranking,
and windowed distinct-count comparisons.

Scale notes:

- ``vec_hotelling_diag``: the diagonal T² needs per-(label, dim)
  means/variances — one explode + rollup; 64 summands replace the
  full-covariance inverse that doesn't scale past small d. The
  parametric sibling of vec_energy_distance (which is
  distribution-free but O(sample²)).
- ``sales_price_dispersion``: per-part unit-price moments are one
  rollup; the dispersion ranking is a deterministic top-k.
- ``dq_constant_column_detect``: each watched column contributes
  (historical, recent) distinct counts via conditional
  count-distinct — a column that collapses to one value in the
  recent window is the classic silent-upstream-default failure.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_TOP_DISP = 10
_MIN_LINES = 10
_RECENT_D = 7


# --------------------------------------------------------------------------
# Diagonal Hotelling T²: label-0 vs label-1 embedding means
# --------------------------------------------------------------------------
@query(
    "vec_hotelling_diag",
    oracle="""
    WITH dims AS (
      SELECT label, g.i AS dim, CAST(embedding[g.i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
      WHERE label IN (0, 1)
    ),
    st AS (
      SELECT dim,
             avg(CASE WHEN label = 0 THEN x END) AS m0,
             avg(CASE WHEN label = 1 THEN x END) AS m1,
             var_samp(CASE WHEN label = 0 THEN x END) AS v0,
             var_samp(CASE WHEN label = 1 THEN x END) AS v1,
             CAST(count(CASE WHEN label = 0 THEN x END) AS DOUBLE) AS n0,
             CAST(count(CASE WHEN label = 1 THEN x END) AS DOUBLE) AS n1
      FROM dims GROUP BY dim
    ),
    t AS (
      SELECT sum((m0 - m1) * (m0 - m1) / (v0 / n0 + v1 / n1)) AS t2,
             CAST(count(*) AS BIGINT) AS n_dims,
             CAST(count(*) FILTER (
               abs(m0 - m1) / sqrt(v0 / n0 + v1 / n1) > 1.959963984540054)
               AS BIGINT) AS n_sig_dims,
             max(n0) AS n0, max(n1) AS n1
      FROM st
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1, n_dims,
           round(t2, 6) AS t2_diag,
           round(t2 / n_dims, 6) AS mean_z2_per_dim,
           n_sig_dims
    FROM t
    """,
)
def vec_hotelling_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal Hotelling-style T² between label-0 and label-1
    embedding means: Σ_d (μ₀d−μ₁d)²/(v₀d/n₀+v₁d/n₁) plus the count
    of individually significant dimensions — the parametric
    complement of vec_energy_distance: linear in n (one explode
    rollup, no pair scans), at the price of a per-dimension
    independence assumption. Under the synthetic null (labels
    independent of embeddings), mean z² per dim ≈ 1 and ~5% of dims
    flag — both readable directly from the output. Ref: reference
    multivariate-test suite."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("label").isin(0, 1))
    dims = emb.select(
        "label", F.posexplode("embedding").alias("pos", "xf")
    ).select(
        "label", F.col("pos").alias("dim"), F.col("xf").cast("double").alias("x")
    )
    x0 = F.when(F.col("label") == 0, F.col("x"))
    x1 = F.when(F.col("label") == 1, F.col("x"))
    st = dims.groupBy("dim").agg(
        F.avg(x0).alias("m0"),
        F.avg(x1).alias("m1"),
        F.var_samp(x0).alias("v0"),
        F.var_samp(x1).alias("v1"),
        F.count(x0).cast("double").alias("n0"),
        F.count(x1).cast("double").alias("n1"),
    )
    se2 = F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1")
    z = F.abs(F.col("m0") - F.col("m1")) / F.sqrt(se2)
    t = st.agg(
        F.sum((F.col("m0") - F.col("m1")) * (F.col("m0") - F.col("m1")) / se2).alias(
            "t2"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
        F.count(F.when(z > 1.959963984540054, 1))
        .cast("bigint")
        .alias("n_sig_dims"),
        F.max("n0").alias("n0"),
        F.max("n1").alias("n1"),
    )
    return t.select(
        F.col("n0").cast("bigint").alias("n0"),
        F.col("n1").cast("bigint").alias("n1"),
        "n_dims",
        F.round("t2", 6).alias("t2_diag"),
        F.round(F.col("t2") / F.col("n_dims"), 6).alias("mean_z2_per_dim"),
        "n_sig_dims",
    )


# --------------------------------------------------------------------------
# Unit-price dispersion per part (price-discrimination audit)
# --------------------------------------------------------------------------
@query(
    "sales_price_dispersion",
    oracle=f"""
    WITH u AS (
      SELECT l_partkey AS pk, l_extendedprice / l_quantity AS unit_price
      FROM lineitem WHERE l_quantity > 0
    ),
    s AS (
      SELECT pk, CAST(count(*) AS BIGINT) AS n_lines,
             avg(unit_price) AS mu, stddev_samp(unit_price) AS sd
      FROM u GROUP BY pk HAVING count(*) >= {_MIN_LINES}
    ),
    cv AS (
      SELECT pk, n_lines, mu, sd,
             CASE WHEN mu > 0 THEN sd / mu END AS cv
      FROM s
    )
    SELECT pk AS l_partkey, n_lines,
           round(mu, 6) AS mean_unit_price,
           round(cv, 6) AS price_cv
    FROM cv ORDER BY cv DESC, pk LIMIT {_TOP_DISP}
    """,
)
def sales_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-discrimination audit: the 10 parts whose realized UNIT
    price (extended price / quantity) varies most across line items
    (coefficient of variation, min 10 observations) — high dispersion
    on the same part means inconsistent discounting or negotiated
    pricing, the first thing a pricing-governance review pulls. One
    per-part moments rollup + a deterministic top-k. Ref: reference
    pricing-audit tests (cf. sales_elasticity,
    dq_duplicate_payments)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    u = li.select(
        F.col("l_partkey").alias("pk"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    s = (
        u.groupBy("pk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.avg("unit_price").alias("mu"),
            F.stddev_samp("unit_price").alias("sd"),
        )
        .filter(F.col("n_lines") >= _MIN_LINES)
        .withColumn(
            "cv", F.when(F.col("mu") > 0, F.col("sd") / F.col("mu"))
        )
    )
    return (
        s.orderBy(F.desc("cv"), "pk")
        .limit(_TOP_DISP)
        .select(
            F.col("pk").alias("l_partkey"),
            "n_lines",
            F.round("mu", 6).alias("mean_unit_price"),
            F.round("cv", 6).alias("price_cv"),
        )
    )


# --------------------------------------------------------------------------
# Constant-column (dead signal) detector over the recent window
# --------------------------------------------------------------------------
@query(
    "dq_constant_column_detect",
    oracle=f"""
    WITH cutoff AS (
      SELECT CAST(max(ts) AS DATE) - {_RECENT_D} AS cd FROM events
    ),
    lab AS (
      SELECT CAST(ts AS DATE) >= cutoff.cd AS recent,
             event_type,
             CAST(floor(value / 10) AS BIGINT) AS value_band,
             user_id % 10 AS user_band
      FROM events, cutoff
    )
    SELECT 'event_type' AS watched_column,
           CAST(count(DISTINCT event_type) AS BIGINT) AS hist_distinct,
           CAST(count(DISTINCT CASE WHEN recent THEN event_type END)
                AS BIGINT) AS recent_distinct,
           count(DISTINCT CASE WHEN recent THEN event_type END) <= 1
             AS went_constant
    FROM lab
    UNION ALL
    SELECT 'value_band',
           CAST(count(DISTINCT value_band) AS BIGINT),
           CAST(count(DISTINCT CASE WHEN recent THEN value_band END)
                AS BIGINT),
           count(DISTINCT CASE WHEN recent THEN value_band END) <= 1
    FROM lab
    UNION ALL
    SELECT 'user_band',
           CAST(count(DISTINCT user_band) AS BIGINT),
           CAST(count(DISTINCT CASE WHEN recent THEN user_band END)
                AS BIGINT),
           count(DISTINCT CASE WHEN recent THEN user_band END) <= 1
    FROM lab
    """,
)
def dq_constant_column_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-signal detector: for each watched column (event type,
    banded value, banded user id), compare the RECENT 7-day distinct
    count with the historical one — a column collapsing to ≤1
    distinct value is the classic silent failure (an upstream default
    being written instead of the real signal) that row counts and
    null rates never catch. Each column is one conditional
    count-distinct over a shared scan. Ref: reference column-health
    tests (cf. dq_enum_drift, dq_drift_psi)."""
    ev = table(spark, sf_dir, "events")
    cutoff = ev.agg(
        F.date_sub(F.max(F.col("ts")).cast("date"), _RECENT_D).alias("cd")
    )
    lab = ev.crossJoin(F.broadcast(cutoff)).select(
        (F.col("ts").cast("date") >= F.col("cd")).alias("recent"),
        "event_type",
        F.floor(F.col("value") / 10).cast("bigint").alias("value_band"),
        (F.col("user_id") % 10).alias("user_band"),
    )
    outs = []
    for name, col in (
        ("event_type", "event_type"),
        ("value_band", "value_band"),
        ("user_band", "user_band"),
    ):
        rc = F.countDistinct(F.when(F.col("recent"), F.col(col)))
        outs.append(
            lab.agg(
                F.lit(name).alias("watched_column"),
                F.countDistinct(col).cast("bigint").alias("hist_distinct"),
                rc.cast("bigint").alias("recent_distinct"),
                (rc <= 1).alias("went_constant"),
            )
        )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionAll(df)
    return out
