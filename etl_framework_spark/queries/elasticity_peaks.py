"""Contract keys: ``sales_elasticity``, ``ts_peaks``,
``vec_cosine_histogram``.

Price elasticity, peak detection, and embedding
anisotropy.

Scale notes:

- ``sales_elasticity``: regr_slope/regr_r2 are single-pass sufficient-
  statistic aggregates (the same partial-agg shuffle as any groupBy);
  the part join broadcasts.
- ``ts_peaks``: strict local maxima over the hourly spine via
  lag/lead — pure integer comparisons on |types|×|hours| rows.
- ``vec_cosine_histogram``: the mean/spread of cosines between
  UNRELATED vectors is the anisotropy diagnostic (a large positive
  mean means a dominant direction eats the embedding space and ANN
  recall will suffer). Pairs are consecutive-id (join on vec_id+1 —
  no quadratic blowup), cosine is the strict-fold kernel shared with
  llm_sim_topk, bucketed AFTER 6-dp quantization so the bucket edges
  are bit-identical on both engines.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.similarity import cosine, duck_cosine
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# Price elasticity of demand — log-log regression per brand
# --------------------------------------------------------------------------
@query(
    "sales_elasticity",
    oracle="""
    WITH li AS (
      SELECT p.p_brand AS brand,
             ln(l.l_quantity) AS lq,
             ln(l.l_extendedprice / l.l_quantity) AS lp
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    )
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n,
           round(regr_slope(lq, lp), 6) AS elasticity,
           round(regr_r2(lq, lp), 6) AS r2
    FROM li GROUP BY brand HAVING count(*) >= 10
    """,
)
def sales_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per part brand: the slope of
    ln(quantity) on ln(unit price) — the textbook log-log regression
    whose coefficient IS the elasticity — plus R² for how much of the
    quantity variance price explains. regr_slope/regr_r2 reduce to
    sufficient statistics in one partial-agg pass (no per-group
    iteration), and the part dimension broadcasts into the fact scan.
    Interpretation caveat the key deliberately demonstrates: unit
    price is DERIVED as extendedprice/quantity, so even though the
    generator draws price and quantity independently, regressing
    ln Q on ln(E/Q) has Q on both sides and produces a mechanical
    slope near −0.5 — Pearson's spurious-ratio-correlation trap,
    the first thing to rule out before calling a measured elasticity
    real (tested: slope ≈ −0.5, R² ≈ 0.5 on independent data)."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    li = (
        l.filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .select(
            F.col("p_brand").alias("brand"),
            F.log(F.col("l_quantity")).alias("lq"),
            F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("lp"),
        )
    )
    return (
        li.groupBy("brand")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.regr_slope("lq", "lp"), 6).alias("elasticity"),
            F.round(F.regr_r2("lq", "lp"), 6).alias("r2"),
        )
        .filter(F.col("n") >= 10)
    )


# --------------------------------------------------------------------------
# Peak detection — strict local maxima on the hourly spine
# --------------------------------------------------------------------------
@query(
    "ts_peaks",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY event_type, hr
    ),
    cal AS (SELECT unnest(generate_series(
              (SELECT min(hr) FROM hourly),
              (SELECT max(hr) FROM hourly), INTERVAL 1 HOUR)) AS hr),
    types AS (SELECT DISTINCT event_type FROM hourly),
    spine AS (
      SELECT t.event_type, c.hr, coalesce(d.x, 0) AS x
      FROM types t CROSS JOIN cal c
      LEFT JOIN hourly d ON d.event_type = t.event_type AND d.hr = c.hr
    ),
    nb AS (
      SELECT event_type, hr, x,
             lag(x)  OVER (PARTITION BY event_type ORDER BY hr) AS xp,
             lead(x) OVER (PARTITION BY event_type ORDER BY hr) AS xn
      FROM spine
    ),
    peaks AS (
      SELECT event_type, hr, x FROM nb
      WHERE xp IS NOT NULL AND xn IS NOT NULL AND x > xp AND x > xn
    ),
    pk2 AS (
      SELECT event_type, hr, x,
             max(x) OVER (PARTITION BY event_type) AS mx
      FROM peaks
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_peaks,
           CAST(max(x) AS BIGINT) AS max_peak,
           min(hr) FILTER (x = mx) AS top_peak_hr
    FROM pk2 GROUP BY event_type
    """,
)
def ts_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict local maxima of the hourly volume per event type: hours
    beating BOTH neighbors (lag and lead on the zero-filled spine),
    reported as peak count, tallest peak, and the earliest hour that
    tallest peak occurs — the load-spike census that feeds alert
    thresholds and capacity headroom. Pure integer comparisons over
    |types|×|hours| spine rows (two window functions, zero floats),
    so the result is exact on any partitioning; raw event volume only
    touches the first rollup."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").cast("bigint").alias("x"))
    bounds = hourly.agg(F.min("hr").alias("d0"), F.max("hr").alias("d1"))
    cal = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 hour"))).alias("hr")
    )
    types = hourly.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(cal))
        .join(hourly, ["event_type", "hr"], "left")
        .select("event_type", "hr", F.coalesce("x", F.lit(0)).alias("x"))
    )
    wo = W.partitionBy("event_type").orderBy("hr")
    peaks = (
        spine.withColumn("xp", F.lag("x").over(wo))
        .withColumn("xn", F.lead("x").over(wo))
        .filter(
            F.col("xp").isNotNull()
            & F.col("xn").isNotNull()
            & (F.col("x") > F.col("xp"))
            & (F.col("x") > F.col("xn"))
        )
    )
    wt = W.partitionBy("event_type")
    return (
        peaks.withColumn("mx", F.max("x").over(wt))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_peaks"),
            F.max("x").cast("bigint").alias("max_peak"),
            F.min(F.when(F.col("x") == F.col("mx"), F.col("hr"))).alias(
                "top_peak_hr"
            ),
        )
    )


# --------------------------------------------------------------------------
# Embedding anisotropy — histogram of cosines between unrelated pairs
# --------------------------------------------------------------------------
_COS_AB = duck_cosine("a.embedding", "b.embedding")


@query(
    "vec_cosine_histogram",
    oracle=f"""
    WITH raw AS (
      SELECT a.vec_id AS id_a, {_COS_AB} AS c
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id % 2 = 0
    ),
    pairs AS (
      SELECT id_a, sign(c) * floor(abs(c) * 1e6 + 0.5) / 1e6 AS cos_q
      FROM raw
    )
    SELECT CAST(floor(cos_q * 10) AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(cos_q), 6) AS avg_cos
    FROM pairs GROUP BY bucket
    """,
)
def vec_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy diagnostic: the distribution (0.1-wide buckets) of
    cosine similarity between UNRELATED embedding pairs (consecutive
    ids — an id join, never a quadratic blowup). Isotropic embeddings
    center this histogram at 0; a large positive mean is the
    'dominant direction' pathology that collapses cosine contrast and
    ruins ANN recall — the thing to check BEFORE building an index at
    100 TB. Cosine is the strict-fold float64 kernel shared with
    llm_sim_topk (bit-identical on both engines); bucketing happens
    AFTER 6-dp sign-aware quantization so bucket edges cannot
    disagree in the last ulp."""
    emb = table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")
    )
    b = emb.select(
        (F.col("vec_id") - 1).alias("id_a"), F.col("embedding").alias("eb")
    )
    cos = cosine(F.col("ea"), F.col("eb"))
    pairs = (
        a.join(b, "id_a")
        .withColumn("__cos", cos)
        .withColumn(
            "cos_q",
            F.signum("__cos")
            * F.floor(F.abs(F.col("__cos")) * 1e6 + 0.5)
            / 1e6,
        )
    )
    return (
        pairs.withColumn("bucket", F.floor(F.col("cos_q") * 10).cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.avg("cos_q"), 6).alias("avg_cos"),
        )
    )
