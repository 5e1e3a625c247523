"""Contract keys: ``fn_vector_ops``, ``vec_source_diversity``,
``stats_benford_second``.

Vector-algebra battery, per-source semantic
diversity, and the second-digit Benford test.

Reference parity: the reference's vector primitive functions, its
source-monotony audit, and its second-order forensic digit test —
re-expressed as zip_with/fold expressions over adjacent embedding
pairs, the sum-vector diversity identity, and digit-frequency
rollups.

Scale notes:

- ``fn_vector_ops``: all ops are row-local higher-order functions —
  the battery proves the vector algebra stays in codegen.
- ``vec_source_diversity``: mean pairwise cosine per source from
  ||Σv||² (one per-dim rollup per source — never a pair join).
- ``stats_benford_second``: one digit-extraction rollup.
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import guarded
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6


# --------------------------------------------------------------------------
# Vector-op battery over adjacent embedding pairs
# --------------------------------------------------------------------------
@query(
    "fn_vector_ops",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < 20
    ),
    p AS (
      SELECT a.vec_id, a.v AS va, b.v AS vb
      FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
    ),
    ops AS (
      SELECT vec_id,
             list_reduce(list_transform(range(1, len(va) + 1),
               k -> va[k] * vb[k]), (x, y) -> x + y) AS dot,
             sqrt(list_reduce(list_transform(va, x -> x * x),
               (x, y) -> x + y)) AS l2_a,
             list_reduce(list_transform(va, x -> abs(x)),
               (x, y) -> x + y) AS l1_a,
             list_reduce(list_transform(range(1, len(va) + 1),
               k -> (va[k] + vb[k]) * (va[k] + vb[k])),
               (x, y) -> x + y) AS sumsq_add,
             list_reduce(list_transform(range(1, len(va) + 1),
               k -> va[k] * vb[k] * 2.0), (x, y) -> x + y) AS axpyish
      FROM p
    )
    SELECT vec_id,
           floor(dot * 1000000 + 0.5) / 1000000 AS dot,
           floor(l2_a * 1000000 + 0.5) / 1000000 AS l2_norm,
           floor(l1_a * 1000000 + 0.5) / 1000000 AS l1_norm,
           floor(sumsq_add * 1000000 + 0.5) / 1000000 AS l2sq_of_sum,
           floor((sumsq_add - axpyish) * 1000000 + 0.5) / 1000000
             AS parallelogram_residual
    FROM ops ORDER BY vec_id
    """,
)
def fn_vector_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-algebra battery over adjacent embedding pairs: dot
    product (zip-multiply fold), L1/L2 norms, the squared norm of
    the SUM, and the parallelogram residual ||a+b||² − 2a·b (which
    must equal ||a||²+||b||² — an algebraic identity the battery
    exposes for the test suite to assert). All row-local
    higher-order functions: this is the kernel vocabulary every
    vec_* operator builds from, proven once as a function-family
    key. Ref: reference vector-function coverage (cf. fn_array2 for
    generic arrays, llm_sim_topk for the consumer)."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    e = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    a = e.select("vec_id", F.col("v").alias("va"))
    b = e.select((F.col("vec_id") - 1).alias("vec_id"), F.col("v").alias("vb"))
    p = a.join(b, "vec_id")

    def fold(arr):
        return F.aggregate(
            F.slice(arr, 2, F.size(arr) - 1),
            F.element_at(arr, 1),
            lambda x, y: x + y,
        )

    dot = fold(F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y))
    l2a = F.sqrt(fold(F.transform(F.col("va"), lambda x: x * x)))
    l1a = fold(F.transform(F.col("va"), lambda x: F.abs(x)))
    sumsq = fold(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: (x + y) * (x + y))
    )
    axpy = fold(F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y * 2.0))
    return p.select(
        "vec_id",
        q6(dot).alias("dot"),
        q6(l2a).alias("l2_norm"),
        q6(l1a).alias("l1_norm"),
        q6(sumsq).alias("l2sq_of_sum"),
        q6(sumsq - axpy).alias("parallelogram_residual"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# Per-source semantic diversity via the sum-vector identity
# --------------------------------------------------------------------------
@query(
    "vec_source_diversity",
    oracle="""
    WITH j AS (
      SELECT d.source,
             list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    dims AS (
      SELECT source, unnest(generate_series(1, len(v))) AS dim,
             unnest(v) AS val
      FROM j
    ),
    sums AS (
      SELECT source, dim, sum(val) AS sv FROM dims GROUP BY source, dim
    ),
    per_src AS (
      SELECT s.source, sum(s.sv * s.sv) AS sum_vec_sq
      FROM sums s GROUP BY s.source
    ),
    cnt AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n FROM j GROUP BY source
    )
    SELECT p.source,
           CAST(c.n AS BIGINT) AS n_vecs,
           floor((p.sum_vec_sq - c.n) / (c.n * (c.n - 1)) * 1000000 + 0.5)
             / 1000000 AS mean_pairwise_cosine,
           floor((1.0 - (p.sum_vec_sq - c.n) / (c.n * (c.n - 1)))
                 * 1000000 + 0.5) / 1000000 AS diversity
    FROM per_src p JOIN cnt c ON p.source = c.source
    ORDER BY p.source
    """,
)
def vec_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic diversity per source: mean pairwise cosine of the
    source's (unit-norm) embeddings via the sum-vector identity
    (Σ_{i≠j} vᵢ·vⱼ = ||Σv||² − n) — the monotony detector that finds
    template-generated sources (mean cosine → 1) WITHOUT any pair
    join: one per-dimension sum per source, then k rows of algebra.
    The per-source drill-down of vec_mean_pairwise_sim, joined
    across modalities on doc_id = vec_id. Ref: reference
    corpus-diversity tests (cf. llm_semdedup for the removal
    consumer)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = table(spark, sf_dir, "embeddings")
    j = docs.join(
        emb, docs.doc_id == emb.vec_id
    ).select(
        "source",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    dims = j.select("source", F.posexplode("v").alias("dim", "val"))
    sums = dims.groupBy("source", "dim").agg(F.sum("val").alias("sv"))
    per_src = sums.groupBy("source").agg(
        F.sum(F.col("sv") * F.col("sv")).alias("sum_vec_sq")
    )
    cnt = j.groupBy("source").agg(F.count(F.lit(1)).cast("double").alias("n"))
    out = per_src.join(cnt, "source")
    mpc = (F.col("sum_vec_sq") - F.col("n")) / (F.col("n") * (F.col("n") - 1))
    return out.select(
        "source",
        F.col("n").cast("bigint").alias("n_vecs"),
        q6(mpc).alias("mean_pairwise_cosine"),
        q6(1.0 - mpc).alias("diversity"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# Second-digit Benford test on order totals
# --------------------------------------------------------------------------
@query(
    "stats_benford_second",
    oracle=f"""
    WITH d AS (
      SELECT CAST(substr(regexp_replace(
               CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
               '[^0-9]', '', 'g'), 2, 1) AS BIGINT) AS d2
      FROM orders WHERE o_totalprice >= 10
    ),
    g AS (
      SELECT d2, CAST(count(*) AS DOUBLE) AS n FROM d GROUP BY d2
    ),
    tot AS (SELECT sum(n) AS t FROM g),
    exp AS (
      SELECT CAST(d2 AS BIGINT) AS d2,
             {" + ".join(f"log10(1.0 + 1.0 / ({f} * 10 + d2))" for f in range(1, 10))}
               AS p_exp
      FROM (SELECT unnest(generate_series(0, 9)) AS d2)
    )
    SELECT e.d2 AS second_digit,
           CAST(coalesce(g.n, 0) AS BIGINT) AS n_obs,
           floor(coalesce(g.n, 0) / tot.t * 1000000 + 0.5) / 1000000
             AS observed_share,
           floor(e.p_exp * 1000000 + 0.5) / 1000000 AS benford_share,
           floor((coalesce(g.n, 0) / tot.t - e.p_exp) * 1000000 + 0.5)
             / 1000000 AS deviation
    FROM exp e LEFT JOIN g ON e.d2 = g.d2 CROSS JOIN tot
    ORDER BY e.d2
    """,
)
def stats_benford_second(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-digit Benford test on order totals: observed share of
    each SECOND digit vs the Benford expectation Σ_f log10(1+1/(10f+d))
    — the forensic test auditors run when first digits are
    constrained by price bands (second digits stay Benford-ish far
    longer; systematic rounding to x9/x0 jumps straight out of this
    table). One digit rollup + a 10-row expectation grid. On
    uniform synthetic prices the deviations are LARGE — which is
    itself the correct reading: this data is not a natural
    multiplicative process. Ref: reference forensic-digit tests
    (cf. stats_benford for the first digit)."""
    od = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 10)
    d = od.select(
        F.substring(
            F.regexp_replace(
                F.floor(F.col("o_totalprice")).cast("bigint").cast("string"),
                "[^0-9]",
                "",
            ),
            2,
            1,
        )
        .cast("bigint")
        .alias("d2")
    )
    g = d.groupBy("d2").agg(F.count(F.lit(1)).cast("double").alias("n"))
    tot = g.agg(F.sum("n").alias("t"))
    exp_rows = [
        (dd, sum(math.log10(1.0 + 1.0 / (f * 10 + dd)) for f in range(1, 10)))
        for dd in range(10)
    ]
    exp = guarded.local_frame(spark, exp_rows, "d2 bigint, p_exp double")
    out = exp.join(g, "d2", "left").crossJoin(F.broadcast(tot))
    obs = F.coalesce(F.col("n"), F.lit(0.0)) / F.col("t")
    return out.select(
        F.col("d2").alias("second_digit"),
        F.coalesce(F.col("n"), F.lit(0.0)).cast("bigint").alias("n_obs"),
        q6(obs).alias("observed_share"),
        q6(F.col("p_exp")).alias("benford_share"),
        q6(obs - F.col("p_exp")).alias("deviation"),
    ).orderBy("second_digit")
