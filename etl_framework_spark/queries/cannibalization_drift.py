"""Contract keys: ``sales_cannibalization``, ``vec_mean_pairwise_sim``,
``dq_enum_drift``.

Cross-brand cannibalization, linear-time
pairwise similarity, and enum-domain drift.

Reference parity: the reference's cross-elasticity matrix, its
corpus-diversity metric, and its categorical-domain drift audit —
re-expressed as a day-keyed brand self-join, the sum-vector
identity, and first/last-seen window classification.

Scale notes:

- ``sales_cannibalization``: brand-pair correlations join the DAILY
  brand rollup to itself ON DAY — the pair blow-up is
  |days|·|brands|², never fact-sized, and |brands| is small by
  construction.
- ``vec_mean_pairwise_sim``: the showpiece identity — mean pairwise
  dot = (‖Σv‖² − Σ‖v‖²)/(n(n−1)) — turns an O(n²) pairwise scan
  into ONE explode + rollup (O(n·d)). The exact number the naive
  pair join would produce, at linear cost; verified per label
  against brute force in the unit test.
- ``dq_enum_drift``: per-(week, value) presence is one distinct
  rollup; new/disappeared classification is two windows over the
  |weeks|·|values| grid.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_TOP_NEG = 10


# --------------------------------------------------------------------------
# Brand cannibalization: most negative daily-revenue correlations
# --------------------------------------------------------------------------
@query(
    "sales_cannibalization",
    oracle=f"""
    WITH daily AS (
      SELECT p.p_brand AS brand, date_trunc('day', l.l_shipdate) AS day,
             sum(l.l_extendedprice) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY brand, day
    ),
    pr AS (
      SELECT a.brand AS b1, b.brand AS b2, a.rev AS x, b.rev AS y
      FROM daily a JOIN daily b ON a.day = b.day AND a.brand < b.brand
    ),
    m AS (
      SELECT b1, b2, CAST(count(*) AS DOUBLE) AS n,
             avg(x) AS mx, avg(y) AS my, avg(x * y) AS mxy,
             avg(x * x) AS mxx, avg(y * y) AS myy
      FROM pr GROUP BY b1, b2
    ),
    c AS (
      SELECT b1, b2, CAST(n AS BIGINT) AS n_days,
             (mxy - mx * my)
               / sqrt((mxx - mx * mx) * (myy - my * my)) AS corr
      FROM m WHERE (mxx - mx * mx) * (myy - my * my) > 0
    )
    SELECT b1 AS brand_a, b2 AS brand_b, n_days,
           round(corr, 6) AS daily_rev_corr
    FROM c ORDER BY corr, b1, b2 LIMIT {_TOP_NEG}
    """,
)
def sales_cannibalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cannibalization screen: the 10 most NEGATIVELY correlated
    brand pairs by daily shipped revenue — when brand A's good days
    are systematically brand B's bad days, they're plausibly eating
    each other's demand (the flag merchandising investigates before
    pricing moves). The pair join runs on the DAILY BRAND rollup
    keyed by day (|days|·|brands|² rows, never fact-sized); each
    pair's correlation is the usual moment closed form. Ref:
    reference cross-elasticity tests (cf. sales_elasticity,
    basket_lift)."""
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part")
    daily = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("day", F.col("l_shipdate")).alias("day"),
        )
        .agg(F.sum("l_extendedprice").alias("rev"))
    )
    # r11: checkpoint the daily rollup — the day-keyed self-join
    # consumes it on BOTH sides, and each side otherwise replays the
    # lineitem-part join + rollup (the fact-sized work) from scratch.
    # The frame is |days|x|brands| rows (~60k at sf0.1) — tiny.
    daily = daily.localCheckpoint(eager=False)
    a = daily.select("day", F.col("brand").alias("b1"), F.col("rev").alias("x"))
    b = daily.select("day", F.col("brand").alias("b2"), F.col("rev").alias("y"))
    pr = a.join(b, "day").filter(F.col("b1") < F.col("b2"))
    m = pr.groupBy("b1", "b2").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
    )
    varprod = (F.col("mxx") - F.col("mx") * F.col("mx")) * (
        F.col("myy") - F.col("my") * F.col("my")
    )
    c = m.filter(varprod > 0).select(
        "b1",
        "b2",
        F.col("n").cast("bigint").alias("n_days"),
        (
            (F.col("mxy") - F.col("mx") * F.col("my")) / F.sqrt(varprod)
        ).alias("corr"),
    )
    return (
        c.orderBy("corr", "b1", "b2")
        .limit(_TOP_NEG)
        .select(
            F.col("b1").alias("brand_a"),
            F.col("b2").alias("brand_b"),
            "n_days",
            F.round("corr", 6).alias("daily_rev_corr"),
        )
    )


# --------------------------------------------------------------------------
# Mean pairwise similarity in O(n·d) via the sum-vector identity
# --------------------------------------------------------------------------
@query(
    "vec_mean_pairwise_sim",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label, g.i AS dim,
             CAST(embedding[g.i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
    ),
    per_dim AS (
      SELECT label, dim, sum(x) AS s, sum(x * x) AS ss
      FROM dims GROUP BY label, dim
    ),
    per_label AS (
      SELECT label, sum(s * s) AS sumsq_of_sums, sum(ss) AS sum_of_norms
      FROM per_dim GROUP BY label
    ),
    n AS (SELECT label, CAST(count(*) AS DOUBLE) AS n
          FROM embeddings GROUP BY label)
    SELECT per_label.label,
           CAST(n.n AS BIGINT) AS n_vectors,
           round((sumsq_of_sums - sum_of_norms) / (n.n * (n.n - 1)), 6)
             AS mean_pairwise_dot,
           round(sum_of_norms / n.n, 6) AS mean_sq_norm,
           round((sumsq_of_sums - sum_of_norms)
                 / (n.n * (n.n - 1)) / (sum_of_norms / n.n), 6)
             AS coherence_ratio
    FROM per_label JOIN n ON per_label.label = n.label
    """,
)
def vec_mean_pairwise_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding coherence WITHOUT the pairwise join: mean
    pairwise dot = (‖Σv‖² − Σ‖v‖²)/(n(n−1)) — the algebraic identity
    that collapses an O(n²·d) pair scan into one O(n·d) rollup, and
    EXACTLY the number the naive join would produce (brute-force-
    checked in the unit test). The coherence ratio (pairwise dot over
    mean squared norm) is the cluster-tightness score a curation
    pipeline tracks per source/label. This identity is the reason
    corpus-diversity metrics stay computable at 10⁹ embeddings. Ref:
    reference diversity-metric tests (cf. llm_centroid,
    vec_knn_reciprocity)."""
    emb = table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("pos", "xf")
    ).select("label", F.col("pos").alias("dim"), F.col("xf").cast("double").alias("x"))
    per_dim = dims.groupBy("label", "dim").agg(
        F.sum("x").alias("s"), F.sum(F.col("x") * F.col("x")).alias("ss")
    )
    per_label = per_dim.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("sumsq_of_sums"),
        F.sum("ss").alias("sum_of_norms"),
    )
    n = emb.groupBy("label").agg(F.count(F.lit(1)).cast("double").alias("n"))
    j = per_label.join(n, "label")
    mpd = (F.col("sumsq_of_sums") - F.col("sum_of_norms")) / (
        F.col("n") * (F.col("n") - 1)
    )
    msn = F.col("sum_of_norms") / F.col("n")
    return j.select(
        "label",
        F.col("n").cast("bigint").alias("n_vectors"),
        F.round(mpd, 6).alias("mean_pairwise_dot"),
        F.round(msn, 6).alias("mean_sq_norm"),
        F.round(mpd / msn, 6).alias("coherence_ratio"),
    )


# --------------------------------------------------------------------------
# Categorical-domain (enum) drift week over week
# --------------------------------------------------------------------------
@query(
    "dq_enum_drift",
    oracle="""
    WITH pres AS (
      SELECT DISTINCT date_trunc('week', ts) AS week,
             concat(event_type, ':',
                    CAST(CAST(floor(value / 50) AS INTEGER) AS VARCHAR))
               AS val
      FROM events
    ),
    hist AS (
      SELECT week, val,
             min(week) OVER (PARTITION BY val) AS first_wk,
             lead(week) OVER (PARTITION BY val ORDER BY week) AS next_wk,
             max(week) OVER () AS last_week_all
      FROM pres
    )
    SELECT week,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(count(*) FILTER (week = first_wk) AS BIGINT) AS n_new,
           CAST(count(*) FILTER (next_wk IS NULL
                                 AND week <> last_week_all) AS BIGINT)
             AS n_disappearing
    FROM hist GROUP BY week
    """,
)
def dq_enum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-domain drift: per week, how many distinct
    (event_type, value-band) enum values are active, how many are
    NEW (never seen before), and how many DISAPPEAR (present this
    week, never again) — the audit that catches an upstream enum
    rename or a silently retired code path before the join misses
    start. Per-(week, value) presence is one distinct rollup; the
    classification is a min and a lead window over each value's ≤5
    presence rows. Ref: reference domain-drift tests (cf.
    dq_drift_psi, events_mix_drift)."""
    ev = table(spark, sf_dir, "events")
    pres = ev.select(
        F.date_trunc("week", F.col("ts")).alias("week"),
        F.concat(
            F.col("event_type"),
            F.lit(":"),
            F.floor(F.col("value") / 50).cast("int").cast("string"),
        ).alias("val"),
    ).distinct()
    wv = W.partitionBy("val")
    wvo = W.partitionBy("val").orderBy("week")
    hist = pres.select(
        "week",
        "val",
        F.min("week").over(wv).alias("first_wk"),
        F.lead("week").over(wvo).alias("next_wk"),
        F.max("week").over(W.partitionBy()).alias("last_week_all"),
    )
    return hist.groupBy("week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.count(F.when(F.col("week") == F.col("first_wk"), 1))
        .cast("bigint")
        .alias("n_new"),
        F.count(
            F.when(
                F.col("next_wk").isNull()
                & (F.col("week") != F.col("last_week_all")),
                1,
            )
        )
        .cast("bigint")
        .alias("n_disappearing"),
    )
