"""K-means clustering over the embeddings table (SURVEY.md §2.11 L7
extension): Lloyd's algorithm with a fixed iteration count, expressed
as ONE declarative DataFrame plan — no driver-side loop, no collect.

Exact-oracle discipline (the hard part of making an *iterative float*
algorithm hash-match across engines):

- Distances are the squared-Euclidean folds of operators.similarity
  (``sqdist_fold`` on Spark, ``duck_sqdist`` on DuckDB) — bit-identical.
- Assignment argmin breaks ties on the lowest centroid id.
- Updated centroids are ROUNDED to 6 dp on both engines before the
  next assignment. Spark's avg and DuckDB's avg can differ in the last
  ulp (partition-order summation); rounding quantizes both to the same
  double as long as the true difference is far below 5e-7 (it is:
  ~1e-13 for ~500-row clusters of N(0,1) values).

At 100 TB: each iteration is a broadcast of k·dim doubles against one
corpus scan + one k·dim-sized aggregation — the canonical Spark ML
pattern (the model is bounded; the data never re-shuffles). A real run
would checkpoint between iterations instead of unrolling; the plan
shape per iteration is identical to what this query pins.

Contract keys: ``llm_kmeans``, ``llm_semdedup``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.similarity import duck_sqdist, sqdist_fold
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

K = 8
DIM = 64  # [OBSERVED embeddings.parquet schema]


def _assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (tiny) centroid set,
    score every vector against all k, keep the argmin (tie → low cid)."""
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cid",
        sqdist_fold(F.col("embedding"), F.col("c")).alias("dist"),
    )
    w = W.partitionBy("vec_id").orderBy("dist", "cid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "cid")
    )


def _update(assigned: DataFrame) -> DataFrame:
    """Centroid update: per-(cid, dim) mean rounded to 6 dp, re-packed
    into an array ordered by dim. k·dim groups — bounded model state."""
    return (
        assigned.select("cid", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("cid", "dim")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("cv"))
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cv"))).alias("sc"))
        .select("cid", F.col("sc.cv").alias("c"))
    )


# Shared CTE chain replaying both Lloyd iterations — reused by the
# cluster-size oracle (llm_kmeans) and the purity/NMI evaluation
# (llm_cluster_purity in skyline_winnow).
KMEANS_A2_CTE = f"""
    WITH init AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid,
             embedding AS c
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {K})),
    d1 AS (
      SELECT e.vec_id, e.embedding, i.cid,
             {duck_sqdist('e.embedding', 'i.c', DIM)} AS dist
      FROM embeddings e CROSS JOIN init i),
    a1 AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1),
    cent AS (
      SELECT cid, list(cv ORDER BY dim) AS c FROM (
        SELECT a1.cid, g.dim,
               round(avg(CAST(a1.embedding[g.dim] AS DOUBLE)), 6) AS cv
        FROM a1 CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS dim) g
        GROUP BY a1.cid, g.dim)
      GROUP BY cid),
    d2 AS (
      SELECT e.vec_id, c.cid,
             {duck_sqdist('e.embedding', 'c.c', DIM)} AS dist
      FROM embeddings e CROSS JOIN cent c),
    a2 AS (
      SELECT vec_id, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1)
"""


def kmeans_a2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final (iteration-2) assignment (vec_id, embedding, cid) —
    shared by llm_kmeans, llm_semdedup and the purity/NMI evaluation."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    init = (
        emb.orderBy("vec_id")
        .limit(K)
        .withColumn("rn", F.row_number().over(W.orderBy("vec_id")))
        .select(
            (F.col("rn") - 1).cast("int").alias("cid"),
            F.col("embedding").alias("c"),
        )
    )
    a1 = _assign(emb, init)
    cent = _update(a1)
    return _assign(emb, cent)


@query(
    "llm_kmeans",
    oracle=KMEANS_A2_CTE
    + """
    SELECT cid, count(*) AS n_members FROM a2 GROUP BY cid
    """,
)
def llm_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k=8, 2 Lloyd iterations, deterministic init = the k
    lowest vec_ids): init → assign → update → assign → cluster sizes,
    unrolled into a single collect-free plan. The oracle replays the
    identical arithmetic in DuckDB CTEs; matching requires every
    assignment in BOTH iterations to agree, so this checks the whole
    iterative pipeline, not just the final histogram."""
    # init = k lowest ids via TakeOrderedAndProject (per-partition
    # heaps) then a row_number over just those k rows — never a global
    # window sort (see kmeans_a2).
    a2 = kmeans_a2(spark, sf_dir)
    return a2.groupBy("cid").agg(F.count("*").alias("n_members"))


SEMDEDUP_TAU = 0.3  # same cosine threshold as llm_dedup_embedding


@query(
    "llm_semdedup",
    oracle=f"""
    WITH init AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid,
             embedding AS c
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {K})),
    d1 AS (
      SELECT e.vec_id, e.embedding, i.cid,
             {duck_sqdist('e.embedding', 'i.c', DIM)} AS dist
      FROM embeddings e CROSS JOIN init i),
    a1 AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1),
    cent AS (
      SELECT cid, list(cv ORDER BY dim) AS c FROM (
        SELECT a1.cid, g.dim,
               round(avg(CAST(a1.embedding[g.dim] AS DOUBLE)), 6) AS cv
        FROM a1 CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS dim) g
        GROUP BY a1.cid, g.dim)
      GROUP BY cid),
    d2 AS (
      SELECT e.vec_id, e.embedding, c.cid,
             {duck_sqdist('e.embedding', 'c.c', DIM)} AS dist
      FROM embeddings e CROSS JOIN cent c),
    a2 AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1),
    pairs AS (
      SELECT b.vec_id AS id_b
      FROM a2 a JOIN a2 b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE trunc(
        ((list_reduce(list_transform(generate_series(1, {DIM}),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
           (x, y) -> x + y))
        / (sqrt(list_reduce(list_transform(a.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
           * sqrt(list_reduce(list_transform(b.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))))
        * 1e6
        + sign((list_reduce(list_transform(generate_series(1, {DIM}),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
           (x, y) -> x + y))) * 0.5) / 1e6 >= {SEMDEDUP_TAU}),
    drops AS (SELECT DISTINCT id_b FROM pairs)
    SELECT a2.vec_id, a2.cid,
           drops.id_b IS NULL AS keep
    FROM a2 LEFT JOIN drops ON drops.id_b = a2.vec_id
    """,
)
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster the embedding space
    (the exact 2-iteration k-means above), then prune near-duplicate
    pairs (cosine ≥ τ) WITHIN each cluster only — clustering bounds
    the pair candidates exactly like LSH bands, which is what makes
    semantic dedup tractable at 100 TB (pairs are cluster-local, and
    cluster sizes are balanced by the k-means objective). Survivor
    policy: lowest vec_id per near-dup pair chain."""
    from etl_framework_spark.operators.similarity import blocked_cosine_pairs

    # persist: the within-cluster pair pruning and the final keep-join
    # both consume the assignment — unpersisted, the 2-iteration
    # k-means replayed twice (r10). One row per vector.
    a2 = kmeans_a2(spark, sf_dir).select(
        "vec_id", "cid", "embedding"
    ).transform(persist_tracked)
    # within-cluster pair pruning via the shared slab-fold kernel (one
    # task per cluster; strict fold bits match the oracle CTE exactly)
    drops = (
        blocked_cosine_pairs(a2.select("cid", "vec_id", "embedding"), "cid",
                             SEMDEDUP_TAU)
        .select(F.col("id_b"))
        .distinct()
    )
    return (
        a2.join(drops, a2.vec_id == drops.id_b, "left")
        .select(
            "vec_id",
            "cid",
            F.col("id_b").isNull().alias("keep"),
        )
    )
