"""Contract keys: ``stats_diff_in_diff``, ``vec_product_quantization``,
``stats_tost_equivalence``.

Causal difference-in-differences, product
quantization, and equivalence testing.

Reference parity: the reference's causal-inference helpers, its
vector-compression codec, and its equivalence (TOST) test —
re-expressed as one-pass conditional aggregations and broadcast
codebook joins.

Scale notes:

- ``stats_diff_in_diff``: all four cell means/variances come from
  ONE conditional aggregation (no per-cell scans); the DiD estimate
  and its large-sample SE are scalar closed forms on the 1-row
  rollup.
- ``vec_product_quantization``: the codebook (8 subspaces x 4
  codes) is tiny and broadcast; each vector row-locally explodes
  into 8 subvectors and the argmin over 4 codes is a min_by on the
  broadcast join — at 100 TB this is the textbook PQ encode pass:
  linear scan, no shuffle until the per-subspace report.
- ``stats_tost_equivalence``: same single-pass two-arm rollup as the
  Welch test, testing the OPPOSITE null (difference >= margin) —
  the two one-sided z statistics are expressions on the rollup.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_Z95 = 1.959963984540054  # two-sided 95% normal critical value
_Z95_1S = 1.6448536269514722  # one-sided 95% normal critical value
_SUB_D = 8  # PQ: dims per subspace (64 = 8 x 8)
_N_SUB = 8
_N_CODES = 4
_TOST_FRAC = 0.05  # equivalence margin as fraction of pooled mean

_SQ_TERMS_SQL = " + ".join(
    f"(CAST(sv[{i}] AS DOUBLE) - CAST(cv[{i}] AS DOUBLE))"
    f" * (CAST(sv[{i}] AS DOUBLE) - CAST(cv[{i}] AS DOUBLE))"
    for i in range(1, _SUB_D + 1)
)


# --------------------------------------------------------------------------
# Difference-in-differences on event values
# --------------------------------------------------------------------------
@query(
    "stats_diff_in_diff",
    oracle=f"""
    WITH e AS (
      SELECT user_id, value,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t
      FROM events
    ),
    w AS (SELECT min(t) AS t0, max(t) AS t1 FROM e),
    r AS (
      SELECT user_id % 2 = 0 AS treated,
             CAST(t AS DOUBLE) >= (CAST(t0 AS DOUBLE)
                                   + CAST(t1 AS DOUBLE)) / 2 AS post,
             value
      FROM e, w
    ),
    m AS (
      SELECT
        avg(value) FILTER (treated AND post) AS m_tp,
        avg(value) FILTER (treated AND NOT post) AS m_t0,
        avg(value) FILTER (NOT treated AND post) AS m_cp,
        avg(value) FILTER (NOT treated AND NOT post) AS m_c0,
        var_samp(value) FILTER (treated AND post) AS v_tp,
        var_samp(value) FILTER (treated AND NOT post) AS v_t0,
        var_samp(value) FILTER (NOT treated AND post) AS v_cp,
        var_samp(value) FILTER (NOT treated AND NOT post) AS v_c0,
        CAST(count(*) FILTER (treated AND post) AS DOUBLE) AS n_tp,
        CAST(count(*) FILTER (treated AND NOT post) AS DOUBLE) AS n_t0,
        CAST(count(*) FILTER (NOT treated AND post) AS DOUBLE) AS n_cp,
        CAST(count(*) FILTER (NOT treated AND NOT post) AS DOUBLE) AS n_c0
      FROM r
    )
    SELECT round(m_tp - m_t0, 6) AS delta_treated,
           round(m_cp - m_c0, 6) AS delta_control,
           round((m_tp - m_t0) - (m_cp - m_c0), 6) AS did_estimate,
           round(sqrt(v_tp / n_tp + v_t0 / n_t0
                      + v_cp / n_cp + v_c0 / n_c0), 6) AS did_se,
           abs((m_tp - m_t0) - (m_cp - m_c0))
             > {_Z95} * sqrt(v_tp / n_tp + v_t0 / n_t0
                             + v_cp / n_cp + v_c0 / n_c0) AS significant
    FROM m
    """,
)
def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: treated = even user ids, post = the
    second half of the observation window; the DiD estimate
    (Δtreated − Δcontrol) cancels both group-level baselines and
    common time shocks — the workhorse quasi-experimental estimator
    when randomization wasn't available. All four cell moments come
    from ONE conditional aggregation; the large-sample SE is the
    independent-cells formula on the 1-row rollup. By construction
    (synthetic values independent of parity) the estimate should
    hover near zero. Ref: reference causal-stats tests (cf.
    stats_cuped, events_ab_test)."""
    ev = table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "value",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("t"),
    )
    w = e.agg(F.min("t").alias("t0"), F.max("t").alias("t1"))
    r = e.crossJoin(F.broadcast(w)).select(
        (F.col("user_id") % 2 == 0).alias("treated"),
        (
            F.col("t").cast("double")
            >= (F.col("t0").cast("double") + F.col("t1").cast("double")) / 2
        ).alias("post"),
        "value",
    )
    t, p = F.col("treated"), F.col("post")
    cells = {
        "tp": t & p,
        "t0": t & ~p,
        "cp": ~t & p,
        "c0": ~t & ~p,
    }
    aggs = []
    for k, cond in cells.items():
        v = F.when(cond, F.col("value"))
        aggs += [
            F.avg(v).alias(f"m_{k}"),
            F.var_samp(v).alias(f"v_{k}"),
            F.count(v).cast("double").alias(f"n_{k}"),
        ]
    m = r.agg(*aggs)
    did = (F.col("m_tp") - F.col("m_t0")) - (F.col("m_cp") - F.col("m_c0"))
    se = F.sqrt(
        F.col("v_tp") / F.col("n_tp")
        + F.col("v_t0") / F.col("n_t0")
        + F.col("v_cp") / F.col("n_cp")
        + F.col("v_c0") / F.col("n_c0")
    )
    return m.select(
        F.round(F.col("m_tp") - F.col("m_t0"), 6).alias("delta_treated"),
        F.round(F.col("m_cp") - F.col("m_c0"), 6).alias("delta_control"),
        F.round(did, 6).alias("did_estimate"),
        F.round(se, 6).alias("did_se"),
        (F.abs(did) > _Z95 * se).alias("significant"),
    )


# --------------------------------------------------------------------------
# Product quantization: 64-dim embeddings -> 8 subspaces x 4 codes
# --------------------------------------------------------------------------
@query(
    "vec_product_quantization",
    oracle=f"""
    WITH cb AS (
      SELECT s.s AS sub, e.code,
             list_slice(e.embedding, s.s * {_SUB_D} + 1,
                        s.s * {_SUB_D} + {_SUB_D}) AS cv
      FROM (SELECT embedding,
                   row_number() OVER (ORDER BY vec_id) - 1 AS code
            FROM (SELECT * FROM embeddings ORDER BY vec_id
                  LIMIT {_N_CODES})) e
      CROSS JOIN generate_series(0, {_N_SUB - 1}) s(s)
    ),
    sv AS (
      SELECT v.vec_id, s.s AS sub,
             list_slice(v.embedding, s.s * {_SUB_D} + 1,
                        s.s * {_SUB_D} + {_SUB_D}) AS sv
      FROM embeddings v
      CROSS JOIN generate_series(0, {_N_SUB - 1}) s(s)
    ),
    d AS (
      SELECT sv.vec_id, sv.sub, cb.code, {_SQ_TERMS_SQL} AS err
      FROM sv JOIN cb ON sv.sub = cb.sub
    ),
    best AS (
      SELECT vec_id, sub, code, err FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                     ORDER BY err, code) AS rk
        FROM d) WHERE rk = 1
    )
    SELECT sub,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(err), 6) AS avg_sq_err,
           round(max(err), 6) AS max_sq_err,
           CAST(count(DISTINCT code) AS BIGINT) AS codes_used
    FROM best GROUP BY sub
    """,
)
def vec_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode pass: split each 64-dim embedding
    into 8 subvectors, assign each to the nearest of 4 codebook
    entries (codebook = the subvectors of the 4 lowest-id vectors —
    a deterministic stand-in for trained centroids), and report the
    per-subspace reconstruction error and code usage. PQ is the
    memory-side half of IVF-PQ ANN: 64 floats become 8 code bytes.
    The codebook is broadcast; the explode + argmin (min_by with an
    (err, code) tie-break both engines share) is row-local — the
    classic no-shuffle encode scan. Ref: reference vector-codec
    tests (cf. vec_quantize_int8, llm_sim_ivf)."""
    emb = table(spark, sf_dir, "embeddings")
    from pyspark.sql import Window as W

    cb_base = (
        emb.orderBy("vec_id")
        .limit(_N_CODES)
        .withColumn(
            "code",
            F.row_number().over(W.partitionBy().orderBy("vec_id")) - 1,
        )
    )
    subs = F.sequence(F.lit(0), F.lit(_N_SUB - 1))

    def explode_subs(df, vec_col):
        return df.withColumn("sub", F.explode(subs)).withColumn(
            "svec",
            F.slice(F.col(vec_col), F.col("sub") * _SUB_D + 1, _SUB_D),
        )

    cb = explode_subs(cb_base, "embedding").select(
        "sub", "code", F.col("svec").alias("cv")
    )
    sv = explode_subs(emb, "embedding").select(
        "vec_id", "sub", F.col("svec").alias("sv")
    )
    err = None
    for i in range(1, _SUB_D + 1):
        term = (
            F.element_at("sv", i).cast("double")
            - F.element_at("cv", i).cast("double")
        ) * (
            F.element_at("sv", i).cast("double")
            - F.element_at("cv", i).cast("double")
        )
        err = term if err is None else err + term
    d = sv.join(F.broadcast(cb), "sub").withColumn("err", err)
    wbest = W.partitionBy("vec_id", "sub").orderBy("err", "code")
    best = (
        d.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .select("vec_id", "sub", "code", "err")
    )
    return best.groupBy("sub").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.round(F.avg("err"), 6).alias("avg_sq_err"),
        F.round(F.max("err"), 6).alias("max_sq_err"),
        F.countDistinct("code").cast("bigint").alias("codes_used"),
    )


# --------------------------------------------------------------------------
# TOST equivalence test: weekend vs weekday event values per type
# --------------------------------------------------------------------------
@query(
    "stats_tost_equivalence",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             CAST(count(*) FILTER (dayofweek(ts) IN (0, 6)) AS DOUBLE) AS n1,
             avg(value)      FILTER (dayofweek(ts) IN (0, 6)) AS m1,
             var_samp(value) FILTER (dayofweek(ts) IN (0, 6)) AS v1,
             CAST(count(*) FILTER (dayofweek(ts) NOT IN (0, 6)) AS DOUBLE)
               AS n2,
             avg(value)      FILTER (dayofweek(ts) NOT IN (0, 6)) AS m2,
             var_samp(value) FILTER (dayofweek(ts) NOT IN (0, 6)) AS v2,
             avg(value) AS m_all
      FROM events GROUP BY event_type
    ),
    w AS (SELECT *, sqrt(v1 / n1 + v2 / n2) AS se,
                 abs(m_all) * {_TOST_FRAC} AS margin
          FROM s WHERE n1 >= 2 AND n2 >= 2)
    SELECT event_type,
           round(m1 - m2, 6) AS mean_diff,
           round(se, 6) AS se,
           round(margin, 6) AS margin,
           round((m1 - m2 + margin) / se, 6) AS z_lower,
           round((margin - (m1 - m2)) / se, 6) AS z_upper,
           (m1 - m2 + margin) / se > {_Z95_1S}
             AND (margin - (m1 - m2)) / se > {_Z95_1S} AS equivalent
    FROM w
    """,
)
def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-one-sided-tests (TOST) equivalence: is the weekend-vs-
    weekday difference in event value provably SMALLER than a 5%-of-
    mean margin? A non-significant t-test never shows equivalence —
    TOST flips the null: both one-sided z tests (diff > −δ and
    diff < +δ) must reject. Same one-pass conditional rollup as
    stats_ttest_welch (the arms share a single shuffle), different
    inference. Spark dayofweek is 1=Sun..7=Sat vs DuckDB 0-based.
    Ref: reference equivalence-test suite."""
    e = table(spark, sf_dir, "events")
    wkend = F.dayofweek("ts").isin(1, 7)
    v1c, v2c = F.when(wkend, F.col("value")), F.when(~wkend, F.col("value"))
    s = (
        e.groupBy("event_type")
        .agg(
            F.count(v1c).cast("double").alias("n1"),
            F.avg(v1c).alias("m1"),
            F.var_samp(v1c).alias("v1"),
            F.count(v2c).cast("double").alias("n2"),
            F.avg(v2c).alias("m2"),
            F.var_samp(v2c).alias("v2"),
            F.avg("value").alias("m_all"),
        )
        .filter((F.col("n1") >= 2) & (F.col("n2") >= 2))
        .withColumn("se", F.sqrt(F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")))
        .withColumn("margin", F.abs(F.col("m_all")) * _TOST_FRAC)
    )
    diff = F.col("m1") - F.col("m2")
    zl = (diff + F.col("margin")) / F.col("se")
    zu = (F.col("margin") - diff) / F.col("se")
    return s.select(
        "event_type",
        F.round(diff, 6).alias("mean_diff"),
        F.round("se", 6).alias("se"),
        F.round("margin", 6).alias("margin"),
        F.round(zl, 6).alias("z_lower"),
        F.round(zu, 6).alias("z_upper"),
        ((zl > _Z95_1S) & (zu > _Z95_1S)).alias("equivalent"),
    )
