"""Contract keys: ``stats_sign_test``, ``vec_triplet_accuracy``,
``ts_turning_points``.

Sign test, embedding triplet accuracy, and
the turning-point randomness test.

Reference parity: the reference's minimal paired test, its metric-
learning evaluation, and its iid-ness probe — re-expressed as
conditional counts, a deterministic triplet construction with
quantized distances, and a three-term window pattern count.

Scale notes:

- ``stats_sign_test``: one key self-join + two counts.
- ``vec_triplet_accuracy``: positives/negatives are the NEXT vec_id
  of same/other label (two windowed lookups) — triplets are
  |vectors|-sized, never a pair join.
- ``ts_turning_points``: one |days| rollup + a lag/lead window.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# Sign test on paired line quantities
# --------------------------------------------------------------------------
@query(
    "stats_sign_test",
    oracle="""
    WITH p AS (
      SELECT b.l_quantity - a.l_quantity AS d
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey
       AND a.l_linenumber = 1 AND b.l_linenumber = 2
    ),
    nz AS (SELECT d FROM p WHERE d <> 0),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS pos
      FROM nz
    )
    SELECT CAST(n AS BIGINT) AS n_nonzero,
           CAST(pos AS BIGINT) AS n_positive,
           round(pos / n, 6) AS positive_share,
           round((pos - n / 2) / sqrt(n / 4), 6) AS sign_z
    FROM s
    """,
)
def stats_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sign test on line-2 minus line-1 quantities: drop zeros,
    count positives, z = (S − n/2)/√(n/4). The assumption-free floor
    of the paired-test ladder — when stats_wilcoxon_signed_rank and
    this disagree, the magnitudes (not the directions) carry the
    signal. One key join + two counts, integer-exact. Ref:
    reference paired-test ladder (cf. stats_wilcoxon_signed_rank,
    stats_ttest_welch)."""
    li = table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey", F.col("l_quantity").alias("q1")
    )
    b = li.filter(F.col("l_linenumber") == 2).select(
        "l_orderkey", F.col("l_quantity").alias("q2")
    )
    nz = (
        a.join(b, "l_orderkey")
        .select((F.col("q2") - F.col("q1")).alias("d"))
        .filter(F.col("d") != 0)
    )
    s = nz.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("double").alias("pos"),
    )
    n, pos = F.col("n"), F.col("pos")
    return s.select(
        n.cast("bigint").alias("n_nonzero"),
        pos.cast("bigint").alias("n_positive"),
        F.round(pos / n, 6).alias("positive_share"),
        F.round((pos - n / 2) / F.sqrt(n / 4), 6).alias("sign_z"),
    )


# --------------------------------------------------------------------------
# Triplet accuracy: d(anchor, same-label) < d(anchor, other-label)?
# --------------------------------------------------------------------------
@query(
    "vec_triplet_accuracy",
    oracle="""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    nxt AS (
      SELECT vec_id, label, v,
             lead(v) OVER (PARTITION BY label ORDER BY vec_id) AS pv,
             lead(vec_id) OVER (PARTITION BY label ORDER BY vec_id) AS pid
      FROM e
    ),
    neg AS (
      SELECT a.vec_id,
             min(b.vec_id) AS nid
      FROM e a JOIN e b ON b.vec_id > a.vec_id AND b.label <> a.label
      GROUP BY a.vec_id
    ),
    tri AS (
      SELECT n.vec_id, n.v, n.pv, bn.v AS nv
      FROM nxt n JOIN neg ng ON n.vec_id = ng.vec_id
      JOIN e bn ON bn.vec_id = ng.nid
      WHERE n.pv IS NOT NULL
    ),
    d AS (
      SELECT vec_id,
             floor(list_reduce(list_transform(range(1, len(v) + 1),
               k -> (v[k] - pv[k]) * (v[k] - pv[k])), (a, b) -> a + b)
               * 1000000000 + 0.5) AS dp,
             floor(list_reduce(list_transform(range(1, len(v) + 1),
               k -> (v[k] - nv[k]) * (v[k] - nv[k])), (a, b) -> a + b)
               * 1000000000 + 0.5) AS dn
      FROM tri
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triplets,
           CAST(sum(CASE WHEN dp < dn THEN 1 ELSE 0 END) AS BIGINT)
             AS n_satisfied,
           round(CAST(sum(CASE WHEN dp < dn THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS triplet_accuracy,
           round(avg((dn - dp) / 1000000000.0), 6) AS mean_margin
    FROM d
    """,
)
def vec_triplet_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet accuracy of the embedding space: for each anchor, the
    positive is the NEXT vector of the SAME label, the negative the
    next higher vec_id of a DIFFERENT label (deterministic, no RNG);
    satisfied means d(a,p) < d(a,n). The metric-learning eval that
    complements vec_nearest_centroid's global view with a local
    margin — mean_margin is how much slack the space has before
    augmentation noise flips neighbors. Triplets are |vectors|-sized
    (windowed positive, min-key negative); quantized distances →
    exact. Ref: reference embedding-eval tests (cf.
    vec_knn_reciprocity, llm_cluster_purity)."""
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    nxt = e.select(
        "vec_id",
        "label",
        "v",
        F.lead("v").over(W.partitionBy("label").orderBy("vec_id")).alias("pv"),
    ).filter(F.col("pv").isNotNull())
    ea = e.select(F.col("vec_id").alias("aid"), F.col("label").alias("alab"))
    eb = e.select(F.col("vec_id").alias("bid"), F.col("label").alias("blab"))
    neg = (
        ea.join(eb, (F.col("bid") > F.col("aid")) & (F.col("blab") != F.col("alab")))
        .groupBy("aid")
        .agg(F.min("bid").alias("nid"))
    )
    bn = e.select(F.col("vec_id").alias("nid"), F.col("v").alias("nv"))
    tri = (
        nxt.join(neg, nxt.vec_id == neg.aid)
        .join(bn, "nid")
        .select("vec_id", "v", "pv", "nv")
    )

    def qd(va, vb):
        diffs = F.transform(
            F.sequence(F.lit(1), F.size(va)),
            lambda k: (F.element_at(va, k) - F.element_at(vb, k))
            * (F.element_at(va, k) - F.element_at(vb, k)),
        )
        raw = F.aggregate(
            F.slice(diffs, 2, F.size(diffs) - 1),
            F.element_at(diffs, 1),
            lambda a, b: a + b,
        )
        return F.floor(raw * 1000000000.0 + 0.5)

    d = tri.select(
        "vec_id",
        qd(F.col("v"), F.col("pv")).alias("dp"),
        qd(F.col("v"), F.col("nv")).alias("dn"),
    )
    sat = F.when(F.col("dp") < F.col("dn"), 1).otherwise(0)
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triplets"),
        F.sum(sat).cast("bigint").alias("n_satisfied"),
        F.round(F.sum(sat).cast("double") / F.count(F.lit(1)), 6).alias(
            "triplet_accuracy"
        ),
        F.round(F.avg((F.col("dn") - F.col("dp")) / 1000000000.0), 6).alias(
            "mean_margin"
        ),
    )


# --------------------------------------------------------------------------
# Turning-point test: is daily demand iid noise?
# --------------------------------------------------------------------------
@query(
    "ts_turning_points",
    oracle="""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day, sum(l_quantity) AS x
      FROM lineitem GROUP BY day
    ),
    w AS (
      SELECT x,
             lag(x) OVER (ORDER BY day) AS xp,
             lead(x) OVER (ORDER BY day) AS xn
      FROM daily
    ),
    t AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_interior,
             CAST(sum(CASE WHEN (x > xp AND x > xn)
                             OR (x < xp AND x < xn)
                           THEN 1 ELSE 0 END) AS DOUBLE) AS tp
      FROM w WHERE xp IS NOT NULL AND xn IS NOT NULL
    )
    SELECT CAST(n_interior AS BIGINT) AS n_interior,
           CAST(tp AS BIGINT) AS turning_points,
           round(2.0 * n_interior / 3.0, 6) AS expected_tp,
           round((tp - 2.0 * n_interior / 3.0)
                 / sqrt((16.0 * n_interior - 29.0) / 90.0), 6) AS tp_z
    FROM t
    """,
)
def ts_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point randomness test on daily demand: count interior
    days that are strict local maxima or minima; under iid noise the
    expectation is 2n/3 with variance (16n−29)/90, so tp_z far below
    0 means the series is SMOOTHER than noise (trend/autocorrelation
    eats turning points) and far above means oscillation. The
    zero-parameter first question before any model: is there even
    structure here? One lag/lead window on the |days| rollup,
    integer comparisons → exact. Ref: reference randomness probes
    (cf. stats_runs_test — same family, levels instead of signs)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum("l_quantity").alias("x")
    )
    wd = W.orderBy("day")
    w = daily.select(
        "x",
        F.lag("x").over(wd).alias("xp"),
        F.lead("x").over(wd).alias("xn"),
    ).filter(F.col("xp").isNotNull() & F.col("xn").isNotNull())
    is_tp = F.when(
        ((F.col("x") > F.col("xp")) & (F.col("x") > F.col("xn")))
        | ((F.col("x") < F.col("xp")) & (F.col("x") < F.col("xn"))),
        1,
    ).otherwise(0)
    t = w.agg(
        F.count(F.lit(1)).cast("double").alias("n_interior"),
        F.sum(is_tp).cast("double").alias("tp"),
    )
    n, tp = F.col("n_interior"), F.col("tp")
    return t.select(
        n.cast("bigint").alias("n_interior"),
        tp.cast("bigint").alias("turning_points"),
        F.round(2.0 * n / 3.0, 6).alias("expected_tp"),
        F.round(
            (tp - 2.0 * n / 3.0) / F.sqrt((16.0 * n - 29.0) / 90.0), 6
        ).alias("tp_z"),
    )
