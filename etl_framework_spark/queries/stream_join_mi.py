"""Contract keys: ``stream_join``, ``feat_mi_matrix``,
``ts_sample_entropy``.

Stream-stream join contract key, mutual-
information matrix, and sample entropy.

Reference parity: the reference's stream-join operator (T7) surfaced
as a contract key (its streaming replay already converges in
tests/test_streaming.py), its feature-dependence screen, and its
nonlinear-dynamics regularity probe.

Scale notes:

- ``stream_join``: the batch-equivalent form of the watermarked
  view⋈purchase interval join — per-user equi key bounds the probe;
  the streaming twin holds only a 2h watermark of state.
- ``feat_mi_matrix``: every feature pair shares ONE (a, b) count
  rollup; MI is row-local logs over exact counts.
- ``ts_sample_entropy``: template matching is a self-join on the
  |days| rollup with integer Chebyshev predicates — exact, and
  quadratic only in |days|.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6

_SE_R = 50  # sample-entropy tolerance (quantity units)


# --------------------------------------------------------------------------
# T7 as a contract key: view -> purchase interval join counts
# --------------------------------------------------------------------------
def stream_join_transform(ev: DataFrame) -> DataFrame:
    """Shared batch/stream transform for the T7 interval join."""
    ev = ev.withColumn("tts", F.date_trunc("second", F.col("ts")))
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("vid"),
        F.col("user_id").alias("vu"),
        F.col("tts").alias("vt"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("pu"),
        F.col("tts").alias("pt"),
    )
    return v.join(
        p,
        (F.col("vu") == F.col("pu"))
        & (F.col("pt") >= F.col("vt"))
        & (F.col("pt") < F.col("vt") + F.expr("INTERVAL 1 HOUR")),
    ).select("vid", "pid", F.col("vu").alias("user_id"))


@query(
    "stream_join",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type,
             date_trunc('second', ts) AS tts
      FROM events
    ),
    j AS (
      SELECT v.event_id AS vid, p.event_id AS pid, v.user_id
      FROM e v JOIN e p
        ON v.user_id = p.user_id
       AND v.event_type = 'view' AND p.event_type = 'purchase'
       AND p.tts >= v.tts
       AND p.tts < v.tts + INTERVAL 1 HOUR
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT vid) AS BIGINT) AS n_views_converting,
           CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases_assisted,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM j
    """,
)
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 stream-stream interval join, batch-equivalent contract
    form: views joined to same-user purchases within [t_view,
    t_view+1h), summarized as pair/side/user counts. The streaming
    twin (watermarked both sides, 2h state retention) converges to
    exactly this in tests/test_streaming.py — this key makes the
    operator visible to the oracle gate too. Per-user equi key
    bounds the probe; at scale state is the watermark window, not
    history. Ref: reference stream-join tests (cf. join_interval
    for the static form, join_semi_window for the existence form)."""
    j = stream_join_transform(table(spark, sf_dir, "events"))
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count_distinct("vid").cast("bigint").alias("n_views_converting"),
        F.count_distinct("pid").cast("bigint").alias("n_purchases_assisted"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    )


# --------------------------------------------------------------------------
# Pairwise mutual information between categorical line features
# --------------------------------------------------------------------------
_MI_FEATS = [
    ("returnflag", "l_returnflag"),
    ("linestatus", "l_linestatus"),
    ("qty_band", "CAST(floor((l_quantity - 1) / 10) AS VARCHAR)"),
    ("disc_band", "CAST(floor(l_discount * 20) AS VARCHAR)"),
]


def _mi_pair_sql(na: str, ea: str, nb: str, eb: str) -> str:
    return f"""
    SELECT '{na}' AS feat_a, '{nb}' AS feat_b,
           floor(sum(pxy * ln(pxy / (px * py))) * 1000000 + 0.5) / 1000000
             AS mi_nats,
           CAST(max(ka) AS BIGINT) AS card_a, CAST(max(kb) AS BIGINT)
             AS card_b
    FROM (
      SELECT c.nxy / t.n AS pxy, a.nx / t.n AS px, b.ny / t.n AS py,
             t.ka AS ka, t.kb AS kb
      FROM (SELECT {ea} AS va, {eb} AS vb, CAST(count(*) AS DOUBLE) AS nxy
            FROM lineitem GROUP BY va, vb) c
      JOIN (SELECT {ea} AS va, CAST(count(*) AS DOUBLE) AS nx
            FROM lineitem GROUP BY va) a ON c.va = a.va
      JOIN (SELECT {eb} AS vb, CAST(count(*) AS DOUBLE) AS ny
            FROM lineitem GROUP BY vb) b ON c.vb = b.vb
      CROSS JOIN (SELECT CAST(count(*) AS DOUBLE) AS n,
                         count(DISTINCT {ea}) AS ka,
                         count(DISTINCT {eb}) AS kb FROM lineitem) t
    )
    """


def _mi_oracle() -> str:
    parts = []
    for i in range(len(_MI_FEATS)):
        for j in range(i + 1, len(_MI_FEATS)):
            na, ea = _MI_FEATS[i]
            nb, eb = _MI_FEATS[j]
            parts.append(_mi_pair_sql(na, ea, nb, eb))
    return (
        "SELECT * FROM ("
        + " UNION ALL ".join(parts)
        + ") ORDER BY feat_a, feat_b"
    )


@query("feat_mi_matrix", oracle=_mi_oracle())
def feat_mi_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise mutual information (nats) between four categorical
    line features (return flag, line status, quantity band, discount
    band) — the model-free dependence screen that catches BOTH
    redundant feature pairs (high MI → drop one) and leakage (a
    'feature' that predicts the label too well). Each pair costs one
    joint rollup + two marginals over the same scan; MI is row-local
    logs over exact counts. Ref: reference feature-screen tests (cf.
    feat_infogain — MI(a,b) is its symmetric generalization,
    stats_cramers_v for the normalized-association view)."""
    li = table(spark, sf_dir, "lineitem")
    feats = {
        "returnflag": F.col("l_returnflag"),
        "linestatus": F.col("l_linestatus"),
        "qty_band": F.floor((F.col("l_quantity") - 1) / 10).cast("string"),
        "disc_band": F.floor(F.col("l_discount") * 20).cast("string"),
    }
    base = li.select(*[e.alias(n) for n, e in feats.items()])
    names = list(feats)
    # r11 optimization: every pairwise joint, marginal, and total is
    # an exact re-aggregation of the FULL 4-feature contingency cube
    # (≤ 3·2·5·3 = 90 rows at any corpus size — the value domains,
    # not the data, bound it). One partial-agg shuffle over lineitem
    # builds the cube; the 6 pairs' 24 aggregations then run over the
    # checkpointed 90-row frame instead of each re-scanning the
    # 600k-row base (24 full passes, measured 7.3 s → 2.2 s at
    # sf0.1). count(*) per pair ≡ sum of cube counts — same integers,
    # same doubles after the cast.
    cube = (
        base.groupBy(*names)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    outs = []
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            na, nb = names[i], names[j]
            c = cube.groupBy(
                F.col(na).alias("va"), F.col(nb).alias("vb")
            ).agg(F.sum("cnt").cast("double").alias("nxy"))
            a = cube.groupBy(F.col(na).alias("va")).agg(
                F.sum("cnt").cast("double").alias("nx")
            )
            b = cube.groupBy(F.col(nb).alias("vb")).agg(
                F.sum("cnt").cast("double").alias("ny")
            )
            t = cube.agg(
                F.sum("cnt").cast("double").alias("n"),
                F.count_distinct(F.col(na)).alias("ka"),
                F.count_distinct(F.col(nb)).alias("kb"),
            )
            joined = (
                c.join(F.broadcast(a), "va")
                .join(F.broadcast(b), "vb")
                .crossJoin(F.broadcast(t))
            )
            pxy = F.col("nxy") / F.col("n")
            px = F.col("nx") / F.col("n")
            py = F.col("ny") / F.col("n")
            outs.append(
                joined.agg(
                    F.lit(na).alias("feat_a"),
                    F.lit(nb).alias("feat_b"),
                    (
                        F.floor(
                            F.sum(pxy * F.log(pxy / (px * py))) * 1000000.0 + 0.5
                        )
                        / 1000000.0
                    ).alias("mi_nats"),
                    F.max("ka").cast("bigint").alias("card_a"),
                    F.max("kb").cast("bigint").alias("card_b"),
                )
            )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("feat_a", "feat_b")


# --------------------------------------------------------------------------
# Sample entropy of the daily demand series
# --------------------------------------------------------------------------
@query(
    "ts_sample_entropy",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day, sum(l_quantity) AS x
      FROM lineitem GROUP BY day
    ),
    s AS (
      SELECT row_number() OVER (ORDER BY day) AS t, x,
             lead(x, 1) OVER (ORDER BY day) AS x1,
             lead(x, 2) OVER (ORDER BY day) AS x2
      FROM daily
    ),
    tpl AS (SELECT t, x, x1, x2 FROM s WHERE x2 IS NOT NULL),
    pairs AS (
      SELECT CAST(count(*) FILTER (abs(a.x - b.x) <= {_SE_R}
                         AND abs(a.x1 - b.x1) <= {_SE_R}) AS DOUBLE) AS b_m,
             CAST(count(*) FILTER (abs(a.x - b.x) <= {_SE_R}
                         AND abs(a.x1 - b.x1) <= {_SE_R}
                         AND abs(a.x2 - b.x2) <= {_SE_R}) AS DOUBLE) AS a_m
      FROM tpl a JOIN tpl b ON a.t < b.t
    )
    SELECT CAST((SELECT count(*) FROM tpl) AS BIGINT) AS n_templates,
           CAST(b_m AS BIGINT) AS matches_m2,
           CAST(a_m AS BIGINT) AS matches_m3,
           floor(-ln(a_m / b_m) * 1000000 + 0.5) / 1000000 AS sample_entropy
    FROM pairs
    """,
)
def ts_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy (m=2, r=50 units) of daily demand: −ln(A/B)
    where B counts template pairs matching for 2 consecutive days
    (Chebyshev ≤ r) and A those still matching at day 3. Low SampEn
    = regular, predictable dynamics; high = the next day carries
    genuinely new information — the regularity number behind
    'is a forecasting model even worth fitting'. The self-join is
    quadratic only in |days| (integer comparisons → exact); at any
    input scale the template table stays |calendar|-sized. Ref:
    reference complexity-probe tests (cf. ts_hurst for long-memory,
    ts_spectral_entropy for the frequency view)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum("l_quantity").alias("x")
    )
    wd = W.orderBy("day")
    s = daily.select(
        F.row_number().over(wd).alias("t"),
        "x",
        F.lead("x", 1).over(wd).alias("x1"),
        F.lead("x", 2).over(wd).alias("x2"),
    ).filter(F.col("x2").isNotNull())
    a = s.select(
        F.col("t").alias("ta"),
        F.col("x").alias("ax"),
        F.col("x1").alias("ax1"),
        F.col("x2").alias("ax2"),
    )
    b = s.select(
        F.col("t").alias("tb"),
        F.col("x").alias("bx"),
        F.col("x1").alias("bx1"),
        F.col("x2").alias("bx2"),
    )
    m2 = (F.abs(F.col("ax") - F.col("bx")) <= _SE_R) & (
        F.abs(F.col("ax1") - F.col("bx1")) <= _SE_R
    )
    m3 = m2 & (F.abs(F.col("ax2") - F.col("bx2")) <= _SE_R)
    pairs = a.join(b, F.col("ta") < F.col("tb")).agg(
        F.sum(F.when(m2, 1).otherwise(0)).cast("double").alias("b_m"),
        F.sum(F.when(m3, 1).otherwise(0)).cast("double").alias("a_m"),
    )
    nt = s.agg(F.count(F.lit(1)).cast("bigint").alias("n_templates"))
    return nt.crossJoin(F.broadcast(pairs)).select(
        "n_templates",
        F.col("b_m").cast("bigint").alias("matches_m2"),
        F.col("a_m").cast("bigint").alias("matches_m3"),
        q6(-F.log(F.col("a_m") / F.col("b_m"))).alias("sample_entropy"),
    )
