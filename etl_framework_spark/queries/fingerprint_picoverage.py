"""Contract keys: ``llm_fingerprint_collision``, ``ts_naive_pi_coverage``,
``vec_dedup_centroid_shift``.

Fingerprint collision audit, naive PI
coverage, and the dedup centroid shift.

Reference parity: the reference's hash-truncation policy table, its
empirical prediction-interval check, and its curation-impact probe
— re-expressed as prefix-distinct counts vs birthday math, a
residual-sigma coverage count, and two per-dimension centroid
rollups.

Scale notes:

- ``llm_fingerprint_collision``: one scan builds all three prefix
  rollups; expected collisions are closed forms.
- ``ts_naive_pi_coverage``: |days| windows; sigma from a single
  residual pass.
- ``vec_dedup_centroid_shift``: the dedup keep-set is a window
  rank; both centroids come from one posexplode rollup each.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

_PFX = [4, 6, 8]  # md5 hex prefix lengths to audit


# --------------------------------------------------------------------------
# Fingerprint truncation: collisions at 4/6/8 hex chars
# --------------------------------------------------------------------------
def _fc_oracle() -> str:
    branches = []
    for p in _PFX:
        space = 16 ** p
        branches.append(
            f"""
    SELECT {p} AS prefix_hex_chars,
           (SELECT CAST(count(DISTINCT md5(text)) AS BIGINT)
            FROM documents) AS n_full_hashes,
           (SELECT CAST(count(DISTINCT md5(text))
                        - count(DISTINCT substr(md5(text), 1, {p}))
                   AS BIGINT) FROM documents) AS collisions,
           (SELECT floor((count(DISTINCT md5(text))
                          * CAST(count(DISTINCT md5(text)) - 1 AS DOUBLE))
                   / (2.0 * {space}.0) * 10000 + 0.5) / 10000
            FROM documents) AS expected_collisions"""
        )
    return (
        "SELECT * FROM ("
        + " UNION ALL ".join(branches)
        + ") ORDER BY prefix_hex_chars"
    )


@query("llm_fingerprint_collision", oracle=_fc_oracle())
def llm_fingerprint_collision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-truncation audit: distinct-text collisions when
    the md5 is truncated to 4/6/8 hex chars, against the birthday
    expectation n(n−1)/2·16⁻ᵖ. The table that sets the doc-id hash
    WIDTH: observed ≈ expected means truncation behaves like a
    random oracle (safe to size by birthday math at 100 TB);
    observed ≫ expected means the corpus has adversarial/structured
    inputs and needs full-width ids. One scan, three prefix
    rollups. Ref: reference fingerprint tests (cf. llm_fingerprint
    for the rolling hash, dq_partition_checksum for the integrity
    use)."""
    docs = table(spark, sf_dir, "documents")
    h = docs.select(F.md5("text").alias("h"))
    h = h.transform(persist_tracked)
    full = h.agg(F.count_distinct("h").cast("bigint").alias("nf"))
    outs = []
    for p in _PFX:
        space = float(16 ** p)
        pref = h.agg(
            F.count_distinct(F.substring("h", 1, p)).cast("bigint").alias("np")
        )
        outs.append(
            full.crossJoin(F.broadcast(pref)).select(
                F.lit(p).alias("prefix_hex_chars"),
                F.col("nf").alias("n_full_hashes"),
                (F.col("nf") - F.col("np")).alias("collisions"),
                (
                    F.floor(
                        F.col("nf")
                        * (F.col("nf") - 1).cast("double")
                        / (2.0 * space)
                        * 10000.0
                        + 0.5
                    )
                    / 10000.0
                ).alias("expected_collisions"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("prefix_hex_chars")


# --------------------------------------------------------------------------
# Naive-forecast prediction-interval coverage
# --------------------------------------------------------------------------
@query(
    "ts_naive_pi_coverage",
    oracle="""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(sum(l_quantity) AS DOUBLE) AS y
      FROM lineitem GROUP BY day
    ),
    lagd AS (
      SELECT y, lag(y) OVER (ORDER BY day) AS yp FROM daily
    ),
    e AS (SELECT y, yp, y - yp AS r FROM lagd WHERE yp IS NOT NULL),
    sig AS (
      SELECT sqrt(sum(r * r) / count(*)) AS s FROM e
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           floor(sig.s * 10000 + 0.5) / 10000 AS residual_sigma,
           round(CAST(sum(CASE WHEN abs(e.r) <= 1.0 * sig.s
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS cover_1s,
           round(CAST(sum(CASE WHEN abs(e.r) <= 1.959963984540054 * sig.s
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS cover_95,
           round(CAST(sum(CASE WHEN abs(e.r) <= 2.575829303548901 * sig.s
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS cover_99
    FROM e CROSS JOIN sig GROUP BY sig.s
    """,
)
def ts_naive_pi_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical prediction-interval coverage for the naive
    forecaster: share of day-over-day residuals inside ±1σ, ±1.96σ,
    ±2.58σ of the residual RMS. Gaussian residuals give ≈68/95/99%;
    lighter coverage at 95 with heavier at 1σ = fat tails, and the
    nominal interval UNDERcovers exactly when it matters. The
    two-line honesty check every forecast dashboard should run on
    its own intervals. |days| windows + one residual pass. Ref:
    reference interval-calibration tests (cf.
    stats_conformal_interval for the distribution-free fix,
    stats_brier_calibration for the probabilistic twin)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum("l_quantity").cast("double").alias("y")
    )
    lagd = daily.select(
        "y", F.lag("y").over(W.orderBy("day")).alias("yp")
    ).filter(F.col("yp").isNotNull())
    e = lagd.select((F.col("y") - F.col("yp")).alias("r"))
    sig = e.agg(
        F.sqrt(F.sum(F.col("r") * F.col("r")) / F.count(F.lit(1))).alias("s")
    )
    j = e.crossJoin(F.broadcast(sig))
    cov = lambda m: F.round(
        F.sum(F.when(F.abs(F.col("r")) <= m * F.col("s"), 1).otherwise(0)).cast(
            "double"
        )
        / F.count(F.lit(1)),
        6,
    )
    return j.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (F.floor(F.max("s") * 10000.0 + 0.5) / 10000.0).alias("residual_sigma"),
        cov(1.0).alias("cover_1s"),
        cov(1.959963984540054).alias("cover_95"),
        cov(2.575829303548901).alias("cover_99"),
    ).drop("s")


# --------------------------------------------------------------------------
# Does exact dedup move the corpus centroid?
# --------------------------------------------------------------------------
@query(
    "vec_dedup_centroid_shift",
    oracle="""
    WITH keep AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY md5(text)
                                ORDER BY doc_id) AS rk
      FROM documents
    ),
    tagged AS (
      SELECT e.vec_id,
             list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v,
             k.rk
      FROM embeddings e JOIN keep k ON e.vec_id = k.doc_id
    ),
    dims AS (
      SELECT unnest(generate_series(1, len(v))) AS dim,
             unnest(v) AS val, rk
      FROM tagged
    ),
    cents AS (
      SELECT dim, avg(val) AS c_all,
             avg(CASE WHEN rk = 1 THEN val END) AS c_dedup
      FROM dims GROUP BY dim
    ),
    s AS (
      SELECT sum((c_all - c_dedup) * (c_all - c_dedup)) AS d2,
             sum(c_all * c_dedup) AS dot,
             sqrt(sum(c_all * c_all)) AS na,
             sqrt(sum(c_dedup * c_dedup)) AS nd,
             CAST(count(*) AS BIGINT) AS n_dims
      FROM cents
    ),
    cnt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
      FROM tagged
    )
    SELECT cnt.n_all, cnt.n_kept, s.n_dims,
           floor(sqrt(s.d2) * 1000000000 + 0.5) / 1000000000
             AS centroid_l2_shift,
           floor(s.dot / (s.na * s.nd) * 1000000000 + 0.5) / 1000000000
             AS centroid_cosine
    FROM s CROSS JOIN cnt
    """,
)
def vec_dedup_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-impact probe: the corpus embedding centroid BEFORE
    vs AFTER exact text dedup (keep-first) — L2 shift and cosine
    between the two mean vectors. A large shift means duplicates
    were concentrated in one region, so dedup MOVES the
    distribution the model trains on (and any centroid-anchored
    thresholds must be recomputed post-dedup). One text-hash rank,
    one modality join, one per-dim rollup computing both centroids
    with conditional averages. Ref: reference curation-impact tests
    (cf. llm_dedup_cluster_profile, llm_embedding_drift for the
    source-level analogue)."""
    docs = table(spark, sf_dir, "documents")
    keep = docs.select(
        "doc_id",
        F.row_number()
        .over(W.partitionBy(F.md5("text")).orderBy("doc_id"))
        .alias("rk"),
    )
    emb = table(spark, sf_dir, "embeddings")
    tagged = emb.join(keep, emb.vec_id == keep.doc_id).select(
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
        "rk",
    )
    dims = tagged.select(
        F.posexplode("v").alias("dim", "val"), "rk"
    )
    cents = dims.groupBy("dim").agg(
        F.avg("val").alias("c_all"),
        F.avg(F.when(F.col("rk") == 1, F.col("val"))).alias("c_dedup"),
    )
    s = cents.agg(
        F.sum(
            (F.col("c_all") - F.col("c_dedup"))
            * (F.col("c_all") - F.col("c_dedup"))
        ).alias("d2"),
        F.sum(F.col("c_all") * F.col("c_dedup")).alias("dot"),
        F.sqrt(F.sum(F.col("c_all") * F.col("c_all"))).alias("na"),
        F.sqrt(F.sum(F.col("c_dedup") * F.col("c_dedup"))).alias("nd"),
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
    )
    cnt = tagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum(F.when(F.col("rk") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
    )
    q9 = lambda c: F.floor(c * F.lit(1000000000.0) + F.lit(0.5)) / F.lit(
        1000000000.0
    )
    return s.crossJoin(F.broadcast(cnt)).select(
        "n_all",
        "n_kept",
        "n_dims",
        q9(F.sqrt(F.col("d2"))).alias("centroid_l2_shift"),
        q9(F.col("dot") / (F.col("na") * F.col("nd"))).alias(
            "centroid_cosine"
        ),
    )
