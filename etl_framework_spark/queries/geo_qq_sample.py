"""Contract keys: ``join_geo_grid``, ``stats_qq_compare``,
``mix_weighted_sample``.

Spatial radius join, distributional Q-Q
comparison, and weighted sampling without replacement.

Reference parity: the reference's spatial/radius-join operator, its
distribution-diff audits, and its weighted reservoir sampler —
re-expressed as grid-bucketed equi-joins, shared-sort quantile
profiles, and deterministic hash-keyed order statistics.

Scale notes:

- ``join_geo_grid``: the naive radius join is O(n²); the grid
  bucketing turns it into an EQUI-join on cell ids (explode each
  left point to its 3x3 neighbor cells — a 9x row-local fanout, no
  cartesian anywhere) followed by the exact haversine filter. Cell
  width >= the radius in degrees guarantees zero missed pairs, so
  the pruned join returns EXACTLY the naive result. At 100 TB the
  shuffle is on cell ids whose cardinality scales with area, and
  density skew is handled by AQE skew splitting.
- ``stats_qq_compare``: both arms' full decile profiles come out of
  ONE aggregation (conditional percentile arrays) — a single
  shuffle; the Q-Q table itself is a 9-row posexplode.
- ``mix_weighted_sample``: Efraimidis-Spirakis A-Res — key
  u^(1/w) with u from a deterministic integer hash, top-k by key.
  One TakeOrderedAndProject pass, no RNG state, reproducible across
  engines and partitionings (the A-Res guarantee: P(selected) ∝ w,
  without replacement).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_R_KM = 200.0  # radius for the geo join
_LAT_CELL = 2.0  # >= R in degrees of latitude (200/111.19 = 1.80)
_LON_CELL = 4.0  # >= R in degrees of longitude at |lat| <= 60 (3.60)
_EARTH_2R = 12742.0  # 2 * mean earth radius, km
_K_SAMPLE = 100  # weighted-sample size

# deterministic synthetic coordinates from the customer key:
# lat in [-60, 59.9], lon in [-170, 169.9] — the lon range keeps any
# within-radius pair away from the antimeridian so the (non-wrapping)
# grid is a sound prune while haversine itself stays exact.
_LAT_SQL = "((c_custkey * 37) % 1200) / 10.0 - 60.0"
_LON_SQL = "((c_custkey * 101) % 3400) / 10.0 - 170.0"
_HAV = (
    "{d2r} * asin(sqrt("
    "sin(radians(latb - lata) / 2) * sin(radians(latb - lata) / 2)"
    " + cos(radians(lata)) * cos(radians(latb))"
    " * sin(radians(lonb - lona) / 2) * sin(radians(lonb - lona) / 2)))"
).format(d2r=_EARTH_2R)


# --------------------------------------------------------------------------
# Radius self-join via grid bucketing (vs naive O(n²) oracle)
# --------------------------------------------------------------------------
@query(
    "join_geo_grid",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             {_LAT_SQL} AS lat,
             {_LON_SQL} AS lon
      FROM customer
    ),
    pr AS (
      SELECT a.id AS cust_a, b.id AS cust_b,
             a.lat AS lata, a.lon AS lona, b.lat AS latb, b.lon AS lonb
      FROM pts a JOIN pts b ON a.id < b.id
    )
    SELECT cust_a, cust_b, round({_HAV}, 6) AS dist_km
    FROM pr
    WHERE {_HAV} <= {_R_KM}
    """,
)
def join_geo_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer pairs within 200 km (haversine) of each other,
    on deterministic synthetic coordinates derived from the key. The
    ORACLE is the naive O(n²) cross join; the SPARK plan is the scale
    path — each point hashes to a 2°x4° grid cell, the left side
    explodes to its 3x3 neighbor cells (row-local, no join), and the
    candidate join is a plain EQUI-join on cell id followed by the
    exact distance filter. Cell width >= radius-in-degrees proves a
    within-R pair always lands in a neighbor cell, so pruned ==
    naive exactly. Ref: reference spatial-join operator tests."""
    cu = table(spark, sf_dir, "customer")
    pts = cu.select(
        F.col("c_custkey").alias("id"),
        (((F.col("c_custkey") * 37) % 1200) / 10.0 - 60.0).alias("lat"),
        (((F.col("c_custkey") * 101) % 3400) / 10.0 - 170.0).alias("lon"),
    ).withColumn(
        "cx", F.floor(F.col("lat") / _LAT_CELL).cast("int")
    ).withColumn(
        "cy", F.floor(F.col("lon") / _LON_CELL).cast("int")
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    left = (
        pts.withColumn("o", F.explode(offsets))
        .select(
            F.col("id").alias("cust_a"),
            F.col("lat").alias("lata"),
            F.col("lon").alias("lona"),
            (F.col("cx") + F.col("o.dx")).alias("jx"),
            (F.col("cy") + F.col("o.dy")).alias("jy"),
        )
    )
    right = pts.select(
        F.col("id").alias("cust_b"),
        F.col("lat").alias("latb"),
        F.col("lon").alias("lonb"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    cand = left.join(right, ["jx", "jy"]).filter(
        F.col("cust_a") < F.col("cust_b")
    )
    dlat = F.radians(F.col("latb") - F.col("lata")) / 2
    dlon = F.radians(F.col("lonb") - F.col("lona")) / 2
    hav = _EARTH_2R * F.asin(
        F.sqrt(
            F.sin(dlat) * F.sin(dlat)
            + F.cos(F.radians(F.col("lata")))
            * F.cos(F.radians(F.col("latb")))
            * F.sin(dlon)
            * F.sin(dlon)
        )
    )
    return (
        cand.withColumn("dist_km_raw", hav)
        .filter(F.col("dist_km_raw") <= _R_KM)
        .select(
            "cust_a", "cust_b", F.round("dist_km_raw", 6).alias("dist_km")
        )
    )


# --------------------------------------------------------------------------
# Q-Q decile comparison of doc length between two source pools
# --------------------------------------------------------------------------
@query(
    "stats_qq_compare",
    oracle="""
    WITH t AS (
      SELECT n_chars,
             CAST(substr(source, 4) AS INTEGER) % 2 = 0 AS is_even
      FROM documents
    ),
    q AS (
      SELECT
        quantile_cont(CASE WHEN is_even THEN n_chars END,
                      [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qa,
        quantile_cont(CASE WHEN NOT is_even THEN n_chars END,
                      [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qb
      FROM t
    )
    SELECT round(i / 10.0, 1) AS p,
           round(qa[i], 6) AS q_even,
           round(qb[i], 6) AS q_odd,
           round(qa[i] - qb[i], 6) AS qq_diff,
           round(qa[i] / qb[i], 6) AS qq_ratio
    FROM q, generate_series(1, 9) g(i)
    """,
)
def stats_qq_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile comparison of document length between the
    even- and odd-numbered source pools: both arms' full decile
    profiles come from ONE conditional-percentile aggregation (a
    single shuffle serves all 18 quantiles — Spark percentile ==
    DuckDB quantile_cont, identical linear interpolation), and the
    9-row Q-Q table is a posexplode over the zipped arrays. The
    distribution-shift audit that PSI (dq_drift_psi) summarizes,
    shown quantile by quantile. Ref: reference distribution-diff
    tests."""
    docs = table(spark, sf_dir, "documents")
    ps = F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
    is_even = F.substring("source", 4, 10).cast("int") % 2 == 0
    q = docs.agg(
        F.percentile(F.when(is_even, F.col("n_chars")), ps).alias("qa"),
        F.percentile(F.when(~is_even, F.col("n_chars")), ps).alias("qb"),
    )
    z = q.select(F.posexplode(F.arrays_zip("qa", "qb")).alias("pos", "v"))
    return z.select(
        F.round((F.col("pos") + 1) / 10.0, 1).alias("p"),
        F.round(F.col("v.qa"), 6).alias("q_even"),
        F.round(F.col("v.qb"), 6).alias("q_odd"),
        F.round(F.col("v.qa") - F.col("v.qb"), 6).alias("qq_diff"),
        F.round(F.col("v.qa") / F.col("v.qb"), 6).alias("qq_ratio"),
    )


# --------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis A-Res)
# --------------------------------------------------------------------------
@query(
    "mix_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             pow((((doc_id % 1000000007) * 2654435761) % 1000000007 + 1)
                 / 1000000008.0,
                 1.0 / n_chars) AS skey
      FROM documents
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY skey DESC, doc_id) AS rk
      FROM keyed
    )
    SELECT doc_id, source,
           CAST(n_chars AS BIGINT) AS weight,
           CAST(rk AS BIGINT) AS rk,
           round(skey, 6) AS sample_key
    FROM ranked WHERE rk <= {_K_SAMPLE}
    """,
)
def mix_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis-Spirakis
    A-Res: every doc gets key u^(1/w) (u = deterministic Knuth-hash
    uniform in (0,1], w = n_chars) and the k largest keys are the
    sample — inclusion probability ∝ weight, reproducible bit-for-bit
    across engines, partitionings, and reruns (no RNG state). The
    top-k is one TakeOrderedAndProject — at 100 TB each partition
    keeps its local k and only k·partitions keys hit the driver-side
    heap, vs a full sort for rank-then-filter. Ref: reference
    weighted-sampler tests (cf. sample_hash_topk for the unweighted
    twin)."""
    docs = table(spark, sf_dir, "documents")
    u = (((F.col("doc_id") % 1000000007) * 2654435761) % 1000000007 + 1) / 1000000008.0
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.pow(u, 1.0 / F.col("n_chars")).alias("skey"),
    )
    # top-k FIRST (TakeOrderedAndProject: per-partition heaps, only
    # k*partitions keys move), then rank the k-row result
    top = keyed.orderBy(F.desc("skey"), "doc_id").limit(_K_SAMPLE)
    ranked = top.withColumn(
        "rk",
        F.row_number().over(W.partitionBy().orderBy(F.desc("skey"), "doc_id")),
    )
    return ranked.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("weight"),
        F.col("rk").cast("bigint").alias("rk"),
        F.round("skey", 6).alias("sample_key"),
    )
