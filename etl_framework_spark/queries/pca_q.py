"""Contract keys: ``vec_pca_power``.

Principal component analysis as declarative
dataflow — integer-exact covariance + unrolled power iteration.

Scale notes:

- The covariance pass is the only stage that touches the corpus:
  centered cross-products are quantized to 1e-12 and summed as
  BIGINTs, so the Σ is EXACT integer arithmetic — order- and
  partition-independent by construction (the strongest possible
  determinism claim; no fold machinery needed). One partial-agg
  shuffle to the |dims|² = 4096-row covariance table; every later
  stage (power iterations, Rayleigh quotient) runs on model-sized
  tables regardless of corpus size — the same bounded-state shape as
  llm_kmeans.
- Two Lloyd-style unrolled power-iteration rounds: v_{k+1} ∝ C·v_k,
  each matvec a join of the 4096-row C against the 64-row v with a
  dim-ordered fold per output row (ties to the DuckDB list_reduce
  twin bit-for-bit); normalization folds the 64 components in dim
  order.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.rounding import q6
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

_DIM = 64
_SCALE = 1_000_000_000_000  # 1e12 quantization for integer-exact sums


# Shared DuckDB CTE: means -> integer-exact covariance -> two power
# iterations. Kept as one string so vec_pca_power's oracle is
# self-contained.
_PCA_CTE = f"""
    WITH dims AS (SELECT unnest(generate_series(1, {_DIM})) AS di),
    ex AS (
      SELECT e.vec_id, d.di - 1 AS dim,
             CAST(e.embedding[d.di] AS DOUBLE) AS val
      FROM embeddings e CROSS JOIN dims d
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
    mu AS (
      SELECT dim,
             (CAST(sum(CAST(trunc(val * {_SCALE} + sign(val) * 0.5)
                            AS BIGINT)) AS DOUBLE) / {_SCALE}) / n.n AS mu
      FROM ex CROSS JOIN n GROUP BY dim, n.n
    ),
    centered AS (
      SELECT ex.vec_id, ex.dim, ex.val - mu.mu AS c
      FROM ex JOIN mu USING (dim)
    ),
    cov AS (
      SELECT a.dim AS i, b.dim AS j,
             (CAST(sum(CAST(trunc(a.c * b.c * {_SCALE}
                                  + sign(a.c * b.c) * 0.5)
                            AS BIGINT)) AS DOUBLE) / {_SCALE})
               / (n.n - 1) AS cv
      FROM centered a
      JOIN centered b ON a.vec_id = b.vec_id
      CROSS JOIN n
      GROUP BY i, j, n.n
    ),
    v0 AS (SELECT unnest(generate_series(1, {_DIM})) - 1 AS dim,
                  CAST(0.125 AS DOUBLE) AS v),
    w1 AS (
      SELECT cov.i AS dim,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(cov.cv * v0.v ORDER BY cov.j)), (a, x) -> a + x) AS w
      FROM cov JOIN v0 ON v0.dim = cov.j
      GROUP BY cov.i
    ),
    n1 AS (SELECT sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list(w * w ORDER BY dim)), (a, x) -> a + x)) AS nrm
           FROM w1),
    v1 AS (SELECT dim, w / n1.nrm AS v FROM w1 CROSS JOIN n1),
    w2 AS (
      SELECT cov.i AS dim,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(cov.cv * v1.v ORDER BY cov.j)), (a, x) -> a + x) AS w
      FROM cov JOIN v1 ON v1.dim = cov.j
      GROUP BY cov.i
    ),
    n2 AS (SELECT sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list(w * w ORDER BY dim)), (a, x) -> a + x)) AS nrm
           FROM w2),
    v2 AS (SELECT dim, w / n2.nrm AS v FROM w2 CROSS JOIN n2),
    ray AS (
      SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(t ORDER BY i, j)), (a, x) -> a + x) AS lam
      FROM (SELECT cov.i, cov.j, va.v * cov.cv * vb.v AS t
            FROM cov JOIN v2 va ON va.dim = cov.i
                     JOIN v2 vb ON vb.dim = cov.j)
    )
"""


def _pca_core(spark: SparkSession, sf_dir: str):
    """Shared raw pipeline: returns (v2, ray, nrow, cov) DataFrames with
    UNQUANTIZED values — consumers quantize only at their own emit
    boundary (vec_pca_power, vec_pca_variance_explained)."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).withColumn("val", F.col("val").cast("double"))
    nrow = emb.agg(F.count("*").cast("double").alias("n"))

    # quantize -> exact integer sum (see module docstring)
    qval = (F.col("val") * _SCALE + F.signum("val") * 0.5).cast("long")
    mu = (
        ex.groupBy("dim")
        .agg(F.sum(qval).alias("s"))
        .crossJoin(F.broadcast(nrow))
        .select(
            "dim",
            ((F.col("s").cast("double") / _SCALE) / F.col("n")).alias("mu"),
        )
    )
    centered = ex.join(F.broadcast(mu), "dim").select(
        "vec_id", "dim", (F.col("val") - F.col("mu")).alias("c")
    )
    a = centered.select("vec_id", F.col("dim").alias("i"), F.col("c").alias("ca"))
    b = centered.select(
        F.col("vec_id").alias("vid_b"),
        F.col("dim").alias("j"),
        F.col("c").alias("cb"),
    )
    prod = F.col("ca") * F.col("cb")
    qprod = (prod * _SCALE + F.signum(prod) * 0.5).cast("long")
    # persist: the covariance pass is the ONLY corpus-sized stage and
    # every downstream consumer (two matvec rounds, the Rayleigh
    # quotient, both registered keys) referenced it separately — the
    # unrolled lineage replayed the embeddings self-join ~100+ times
    # per plan (r10, counted in the golden plans). 4096-row frame.
    cov = (
        a.join(b, F.col("vec_id") == F.col("vid_b"))
        .groupBy("i", "j")
        .agg(F.sum(qprod).alias("s"))
        .crossJoin(F.broadcast(nrow))
        .select(
            "i",
            "j",
            (
                (F.col("s").cast("double") / _SCALE) / (F.col("n") - 1)
            ).alias("cv"),
        )
    ).transform(persist_tracked)

    def matvec(v_df):
        terms = cov.join(
            F.broadcast(v_df.select(F.col("dim").alias("j"), "v")), "j"
        ).select("i", "j", (F.col("cv") * F.col("v")).alias("t"))
        w = terms.groupBy("i").agg(
            F.array_sort(F.collect_list(F.struct("j", "t"))).alias("sv")
        ).select(
            F.col("i").alias("dim"),
            F.aggregate(F.col("sv.t"), F.lit(0.0), lambda acc, x: acc + x).alias(
                "w"
            ),
        )
        nrm = w.agg(
            F.array_sort(F.collect_list(F.struct("dim", "w"))).alias("sv")
        ).select(
            F.sqrt(
                F.aggregate(
                    F.transform(F.col("sv.w"), lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("nrm")
        )
        return w.crossJoin(F.broadcast(nrm)).select(
            "dim", (F.col("w") / F.col("nrm")).alias("v")
        )

    v0 = spark.range(_DIM).select(
        F.col("id").cast("int").alias("dim"), F.lit(0.125).alias("v")
    )
    # persist each 64-row iterate: matvec references its input in two
    # branches (the product and the norm), so an unpersisted chain
    # doubles the replayed lineage per round
    v1 = matvec(v0).transform(persist_tracked)
    v2 = matvec(v1).transform(persist_tracked)
    # Rayleigh quotient: fold terms in (i, j) order
    va = v2.select(F.col("dim").alias("i"), F.col("v").alias("va"))
    vb = v2.select(F.col("dim").alias("j"), F.col("v").alias("vb"))
    ray = (
        cov.join(F.broadcast(va), "i")
        .join(F.broadcast(vb), "j")
        .select("i", "j", (F.col("va") * F.col("cv") * F.col("vb")).alias("t"))
        .agg(F.array_sort(F.collect_list(F.struct("i", "j", "t"))).alias("sv"))
        .select(
            F.aggregate(F.col("sv.t"), F.lit(0.0), lambda acc, x: acc + x).alias(
                "lam"
            )
        )
    )
    return v2, ray, nrow, cov


@query(
    "vec_pca_power",
    oracle=_PCA_CTE
    + """
    SELECT v2.dim,
           floor(v2.v * 1000000 + 0.5) / 1000000 AS loading,
           floor(ray.lam * 1000000 + 0.5) / 1000000 AS eigenvalue,
           CAST(n.n AS BIGINT) AS n_vecs
    FROM v2 CROSS JOIN ray CROSS JOIN n
    """,
)
def vec_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus via power
    iteration, entirely as declarative dataflow (third iterative
    operator after llm_kmeans and llm_bpe_merges): centered
    cross-products quantize to 1e-12 and sum as BIGINTs, so the
    covariance pass — the ONLY corpus-sized stage — is exact integer
    arithmetic, order- and partition-independent with no fold
    machinery at all. The 4096-row covariance then drives two
    unrolled v ← normalize(C·v) rounds and a Rayleigh-quotient
    eigenvalue, every float sum a dim-ordered strict fold matching
    the DuckDB list_reduce oracle bit-for-bit. Two rounds are the
    unrolled building block (production convergence unrolls more of
    the same; this synthetic spectrum is near-flat, so the oracle
    checks the ALGORITHM, and the unit test checks both the algorithm
    replica and the Rayleigh-quotient spectrum bounds). Output: 64
    loadings + the eigenvalue — the first step of PCA whitening and
    the variance-direction monitor at 100 TB."""
    v2, ray, nrow, _ = _pca_core(spark, sf_dir)
    return (
        v2.crossJoin(F.broadcast(ray))
        .crossJoin(F.broadcast(nrow))
        .select(
            "dim",
            q6(F.col("v")).alias("loading"),
            q6(F.col("lam")).alias("eigenvalue"),
            F.col("n").cast("bigint").alias("n_vecs"),
        )
    )
