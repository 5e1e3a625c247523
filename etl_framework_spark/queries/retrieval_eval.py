"""Contract keys: ``stats_pr_curve``, ``vec_ood_mahalanobis``,
``llm_bm25_param_sweep``.

Precision-recall curve, diagonal-Mahalanobis
OOD scoring, and BM25 hyperparameter sensitivity.

Reference parity: the reference's thresholded-classifier metrics,
its outlier/OOD scorer, and its ranking-parameter sweep — re-
expressed as threshold-explode confusion counts, per-(label, dim)
standardization joins, and a k1-crossed scoring rollup.

Scale notes:

- ``stats_pr_curve``: all five operating points come from ONE
  aggregation (scored rows x broadcast thresholds); the PIT
  predictor reuses the same leakage-free window as the AUC/Brier
  keys.
- ``vec_ood_mahalanobis``: per-(label, dim) moments are one explode
  + rollup; each vector's distance is a second explode joined to the
  BROADCAST stats — both passes are linear scans, and the 64x row
  fanout stays inside the executor (no pairwise anything).
- ``llm_bm25_param_sweep``: the three k1 values ride a 3-row
  broadcast through the SAME tf/df rollups (one tokenize, one tf,
  one df — the sweep adds zero extra scans); top-10 overlap between
  settings is the rank-stability verdict.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_THRESHOLDS = (0.1, 0.3, 0.5, 0.7, 0.9)
_OOD_TOP = 10
_K1S = (0.8, 1.2, 2.0)
_B = 0.75
_SWEEP_TOP = 10


# --------------------------------------------------------------------------
# Precision / recall / F1 at five thresholds of the PIT predictor
# --------------------------------------------------------------------------
@query(
    "stats_pr_curve",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t,
             event_id
      FROM events
    ),
    p AS (
      SELECT y, sum(y) OVER w / count(*) OVER w AS phat
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    scored AS (SELECT y, phat FROM p WHERE phat IS NOT NULL),
    th AS (SELECT unnest([{", ".join(str(t) for t in _THRESHOLDS)}]) AS thr),
    m AS (
      SELECT thr,
             CAST(count(*) FILTER (phat >= thr AND y = 1.0) AS DOUBLE) AS tp,
             CAST(count(*) FILTER (phat >= thr AND y = 0.0) AS DOUBLE) AS fp,
             CAST(count(*) FILTER (phat < thr AND y = 1.0) AS DOUBLE) AS fn
      FROM scored CROSS JOIN th GROUP BY thr
    )
    SELECT round(thr, 1) AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           round(CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0 END, 6)
             AS precision_,
           round(CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0 END, 6)
             AS recall_,
           round(CASE WHEN 2 * tp + fp + fn > 0
                      THEN 2 * tp / (2 * tp + fp + fn) ELSE 0 END, 6) AS f1
    FROM m
    """,
)
def stats_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision, recall, and F1 at five decision thresholds of the
    leakage-free PIT predictor — the operating-point table that turns
    the threshold-free AUC (stats_auc_pit) into a deployable cutoff
    choice. The five confusion matrices come from ONE conditional
    aggregation over the scored rows crossed with the broadcast
    threshold list; counts are integers so every ratio is exact.
    Ref: reference classifier-eval tests."""
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("t"),
        "event_id",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    scored = seq.select(
        "y", (F.sum("y").over(w) / F.count(F.lit(1)).over(w)).alias("phat")
    ).filter(F.col("phat").isNotNull())
    th = (
        spark.range(len(_THRESHOLDS))
        .select(
            F.element_at(
                F.array(*[F.lit(t) for t in _THRESHOLDS]),
                (F.col("id") + 1).cast("int"),
            ).alias("thr")
        )
    )
    m = (
        scored.crossJoin(F.broadcast(th))
        .groupBy("thr")
        .agg(
            F.count(F.when((F.col("phat") >= F.col("thr")) & (F.col("y") == 1.0), 1))
            .cast("double")
            .alias("tp"),
            F.count(F.when((F.col("phat") >= F.col("thr")) & (F.col("y") == 0.0), 1))
            .cast("double")
            .alias("fp"),
            F.count(F.when((F.col("phat") < F.col("thr")) & (F.col("y") == 1.0), 1))
            .cast("double")
            .alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return m.select(
        F.round("thr", 1).alias("threshold"),
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        F.round(
            F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(0.0)), 6
        ).alias("precision_"),
        F.round(
            F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(0.0)), 6
        ).alias("recall_"),
        F.round(
            F.when(2 * tp + fp + fn > 0, 2 * tp / (2 * tp + fp + fn)).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("f1"),
    )


# --------------------------------------------------------------------------
# Diagonal-Mahalanobis OOD scoring of embeddings vs their label centroid
# --------------------------------------------------------------------------
@query(
    "vec_ood_mahalanobis",
    oracle=f"""
    WITH dims AS (
      SELECT vec_id, label, g.i AS dim,
             CAST(embedding[g.i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
    ),
    st AS (
      SELECT label, dim, avg(x) AS mu, var_samp(x) AS v
      FROM dims GROUP BY label, dim
    ),
    d AS (
      SELECT dims.vec_id, dims.label,
             sum((dims.x - st.mu) * (dims.x - st.mu) / st.v) AS m2
      FROM dims JOIN st ON dims.label = st.label AND dims.dim = st.dim
      GROUP BY dims.vec_id, dims.label
    )
    SELECT vec_id, label, round(sqrt(m2 / 64), 6) AS ood_score,
           CAST(row_number() OVER (ORDER BY m2 DESC, vec_id) AS BIGINT)
             AS rank
    FROM d ORDER BY m2 DESC, vec_id LIMIT {_OOD_TOP}
    """,
)
def vec_ood_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-distribution scoring: each embedding's diagonal
    Mahalanobis distance from ITS OWN label's centroid (per-dimension
    standardization, √(Σz²/64)) — the classic 'is this example
    actually from the class it claims' screen that catches label
    noise before training. Per-(label, dim) moments are one explode +
    rollup broadcast back; per-vector distances are a second linear
    pass; deterministic (score DESC, id) top-10. Ref: reference OOD
    tests (cf. llm_semantic_outliers — the unlabeled twin)."""
    emb = table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("pos", "xf"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    st = dims.groupBy("label", "dim").agg(
        F.avg("x").alias("mu"), F.var_samp("x").alias("v")
    )
    d = (
        dims.join(F.broadcast(st), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                (F.col("x") - F.col("mu"))
                * (F.col("x") - F.col("mu"))
                / F.col("v")
            ).alias("m2")
        )
    )
    top = d.orderBy(F.desc("m2"), "vec_id").limit(_OOD_TOP)
    return top.select(
        "vec_id",
        "label",
        F.round(F.sqrt(F.col("m2") / 64), 6).alias("ood_score"),
        F.row_number()
        .over(W.partitionBy().orderBy(F.desc("m2"), "vec_id"))
        .cast("bigint")
        .alias("rank"),
    )


# --------------------------------------------------------------------------
# BM25 k1 sensitivity: top-10 stability across three settings
# --------------------------------------------------------------------------
@query(
    "llm_bm25_param_sweep",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dlen
           FROM tok GROUP BY doc_id),
    stats AS (SELECT avg(dlen) AS avgdl, CAST(count(*) AS DOUBLE) AS n
              FROM dl),
    q AS (SELECT token FROM tok GROUP BY token
          ORDER BY count(*) DESC, token LIMIT 3),
    tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
           FROM tok WHERE token IN (SELECT token FROM q)
           GROUP BY doc_id, token),
    df AS (SELECT token, CAST(count(*) AS DOUBLE) AS df
           FROM tf GROUP BY token),
    k1s AS (SELECT unnest([{", ".join(str(k) for k in _K1S)}]) AS k1),
    term AS (
      SELECT k1s.k1, tf.doc_id,
             sum(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1)
                 * tf.tf * (k1s.k1 + 1)
                 / (tf.tf + k1s.k1
                    * (1 - {_B} + {_B} * dl.dlen / stats.avgdl))) AS score
      FROM tf
      JOIN df USING (token)
      JOIN dl USING (doc_id)
      CROSS JOIN stats CROSS JOIN k1s
      GROUP BY k1s.k1, tf.doc_id
    ),
    top AS (
      SELECT k1, doc_id FROM (
        SELECT *, row_number() OVER (PARTITION BY k1
                                     ORDER BY score DESC, doc_id) AS rk
        FROM term) WHERE rk <= {_SWEEP_TOP}
    )
    SELECT round(a.k1, 1) AS k1_low, round(b.k1, 1) AS k1_high,
           CAST(count(*) AS BIGINT) AS top10_overlap
    FROM top a JOIN top b
      ON a.doc_id = b.doc_id AND a.k1 < b.k1
    GROUP BY a.k1, b.k1
    """,
)
def llm_bm25_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 k1 sensitivity: score the corpus for the 3 most frequent
    query terms under k1 ∈ {{0.8, 1.2, 2.0}} and report the top-10
    overlap for each parameter pair — high overlap means the ranking
    is robust to the saturation constant and tuning it is low-stakes;
    low overlap means k1 actually decides results. The sweep rides a
    3-row broadcast through ONE tokenize/tf/df pipeline (zero extra
    scans per setting). Ref: reference ranking-sweep tests (cf.
    llm_bm25, llm_lsh_calibration)."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    # lazy localCheckpoint of the small derived frames: dl feeds the
    # corpus stats AND the scoring join, tf feeds df AND the scoring
    # join, and the 30-row top frame is self-joined — unmaterialized,
    # each reference replayed the tokenize/tf pipeline (24 scans in
    # the golden plan; measured 1.70 -> 1.44 s alternating A/B, while
    # a plain persist LOST at 1.78 s — columnar cache build serializes the
    # critical path where the checkpoint's raw-row spill does not).
    dl = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dlen")
    ).localCheckpoint(eager=False)
    stats = dl.agg(
        F.avg("dlen").alias("avgdl"), F.count(F.lit(1)).cast("double").alias("n")
    )
    qterms = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "token")
        .limit(3)
        .select("token")
    )
    tf = (
        tok.join(F.broadcast(qterms), "token")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    ).localCheckpoint(eager=False)
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("df"))
    k1s = (
        spark.range(len(_K1S))
        .select(
            F.element_at(
                F.array(*[F.lit(k) for k in _K1S]), (F.col("id") + 1).cast("int")
            ).alias("k1")
        )
    )
    term = (
        tf.join(F.broadcast(df), "token")
        .join(F.broadcast(dl), "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(k1s))
        .groupBy("k1", "doc_id")
        .agg(
            F.sum(
                F.log(
                    (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
                )
                * F.col("tf")
                * (F.col("k1") + 1)
                / (
                    F.col("tf")
                    + F.col("k1")
                    * (1 - _B + _B * F.col("dlen") / F.col("avgdl"))
                )
            ).alias("score")
        )
    )
    wk = W.partitionBy("k1").orderBy(F.desc("score"), "doc_id")
    top = (
        term.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _SWEEP_TOP)
        .select("k1", "doc_id")
    ).localCheckpoint(eager=False)
    a = top.select(F.col("k1").alias("ka"), "doc_id")
    b = top.select(F.col("k1").alias("kb"), "doc_id")
    return (
        a.join(b, "doc_id")
        .filter(F.col("ka") < F.col("kb"))
        .groupBy("ka", "kb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("top10_overlap"))
        .select(
            F.round("ka", 1).alias("k1_low"),
            F.round("kb", 1).alias("k1_high"),
            "top10_overlap",
        )
    )
