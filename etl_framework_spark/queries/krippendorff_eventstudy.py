"""Contract keys: ``stats_krippendorff_alpha``, ``join_skew_diagnosis``,
``ts_event_study``.

Krippendorff's alpha, join-skew diagnosis,
and the event-study window.

Reference parity: the reference's third agreement coefficient, its
pre-join skew audit, and its event-study primitive — re-expressed
as disagreement/expected-disagreement counts, per-key frequency
products, and windowed pre/post contrasts.

Scale notes:

- ``stats_krippendorff_alpha``: the same 2×2 counts as kappa/AC1.
- ``join_skew_diagnosis``: per-key counts on both join sides; the
  output-row product is row-local — the audit never runs the join.
- ``ts_event_study``: two fixed windows over the |days| rollup.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6

_EVENT_DAY = "1995-06-30"
_WIN_D = 28


# --------------------------------------------------------------------------
# Krippendorff's alpha (nominal, 2 raters) on the kappa raters
# --------------------------------------------------------------------------
@query(
    "stats_krippendorff_alpha",
    oracle="""
    WITH r AS (
      SELECT CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS a,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS b
      FROM orders
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CASE WHEN a <> b THEN 1 ELSE 0 END) AS DOUBLE)
               AS n_dis,
             CAST(sum(a) + sum(b) AS DOUBLE) AS n_ones
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_units,
           round(n_dis / n, 6) AS observed_disagreement,
           round(2 * n_ones * (2 * n - n_ones) / (2 * n * (2 * n - 1)), 6)
             AS expected_disagreement,
           round(1.0 - (n_dis / n)
                 / (2 * n_ones * (2 * n - n_ones)
                    / (2 * n * (2 * n - 1))), 6)
             AS krippendorff_alpha
    FROM m
    """,
)
def stats_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal, two raters, no missing data)
    on the SAME raters as stats_cohens_kappa and stats_gwet_ac1:
    α = 1 − D_o/D_e with the expected disagreement drawn from the
    POOLED value distribution (all 2n judgments as one urn — the
    small-sample correction 2n−1 is what separates α from scott's
    π). Shipping kappa, AC1 AND alpha over identical counts is the
    agreement-methods bake-off the reference runs. One scan.
    Integer counts → exact. Ref: reference inter-rater tests."""
    od = table(spark, sf_dir, "orders")
    r = od.select(
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("a"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("b"),
    )
    m = r.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("a") != F.col("b"), 1).otherwise(0))
        .cast("double")
        .alias("n_dis"),
        (F.sum("a") + F.sum("b")).cast("double").alias("n_ones"),
    )
    n = F.col("n")
    do = F.col("n_dis") / n
    de = (
        2 * F.col("n_ones") * (2 * n - F.col("n_ones")) / (2 * n * (2 * n - 1))
    )
    return m.select(
        n.cast("bigint").alias("n_units"),
        F.round(do, 6).alias("observed_disagreement"),
        F.round(de, 6).alias("expected_disagreement"),
        F.round(1.0 - do / de, 6).alias("krippendorff_alpha"),
    )


# --------------------------------------------------------------------------
# Join-skew diagnosis: hottest keys BEFORE running the join
# --------------------------------------------------------------------------
@query(
    "join_skew_diagnosis",
    oracle="""
    WITH l AS (
      SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS left_n
      FROM lineitem GROUP BY k
    ),
    r AS (
      SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS right_n
      FROM orders GROUP BY k
    ),
    j AS (
      SELECT l.k, l.left_n, coalesce(r.right_n, 0) AS right_n,
             l.left_n * coalesce(r.right_n, 0) AS out_rows
      FROM l LEFT JOIN r ON l.k = r.k
    ),
    tot AS (
      SELECT sum(out_rows) AS total_out,
             CAST(count(*) AS DOUBLE) AS n_keys
      FROM j
    )
    SELECT j.k AS join_key, j.left_n, j.right_n,
           CAST(j.out_rows AS BIGINT) AS output_rows,
           round(CAST(j.out_rows AS DOUBLE) / tot.total_out, 9)
             AS output_share,
           round(CAST(j.out_rows AS DOUBLE) * tot.n_keys / tot.total_out, 4)
             AS skew_factor
    FROM j CROSS JOIN tot
    ORDER BY j.out_rows DESC, j.k LIMIT 10
    """,
)
def join_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew audit: the 10 hottest lineitem⋈orders keys by
    PREDICTED output rows (left_count × right_count), with each
    key's output share and skew factor (share × number of keys —
    1.0 = perfectly uniform). This is the query a join planner runs
    BEFORE the join: skew_factor ≫ 100 on a key means that key's
    task will straggle and salting/AQE-skew-split is warranted. Two
    per-key rollups + a key join — the diagnosis never executes the
    join it diagnoses. Integer counts → exact. Ref: reference
    skew-handling tests (cf. join_salted for the cure, diag_skew
    for the distribution view)."""
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    l = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("left_n")
    )
    r = od.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("right_n")
    )
    j = l.join(r, "k", "left").select(
        "k",
        "left_n",
        F.coalesce(F.col("right_n"), F.lit(0)).alias("right_n"),
        (F.col("left_n") * F.coalesce(F.col("right_n"), F.lit(0))).alias(
            "out_rows"
        ),
        # lazy localCheckpoint: the per-key frame feeds the total agg
        # AND the share projection — unmaterialized, both replayed the
        # two rollups and their join. One narrow row per join key.
    ).localCheckpoint(eager=False)
    tot = j.agg(
        F.sum("out_rows").alias("total_out"),
        F.count(F.lit(1)).cast("double").alias("n_keys"),
    )
    out = j.crossJoin(F.broadcast(tot))
    return (
        out.select(
            F.col("k").alias("join_key"),
            "left_n",
            "right_n",
            F.col("out_rows").cast("bigint").alias("output_rows"),
            F.round(
                F.col("out_rows").cast("double") / F.col("total_out"), 9
            ).alias("output_share"),
            F.round(
                F.col("out_rows").cast("double")
                * F.col("n_keys")
                / F.col("total_out"),
                4,
            ).alias("skew_factor"),
        )
        .orderBy(F.desc("output_rows"), "join_key")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Event study: demand level around the policy date
# --------------------------------------------------------------------------
@query(
    "ts_event_study",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(sum(l_quantity) AS DOUBLE) AS x
      FROM lineitem GROUP BY day
    ),
    w AS (
      SELECT x,
             CASE WHEN day > DATE '{_EVENT_DAY}'
                   AND day <= DATE '{_EVENT_DAY}' + INTERVAL {_WIN_D} DAY
                  THEN 'post'
                  WHEN day <= DATE '{_EVENT_DAY}'
                   AND day > DATE '{_EVENT_DAY}' - INTERVAL {_WIN_D} DAY
                  THEN 'pre' END AS win
      FROM daily
    ),
    g AS (
      SELECT win, CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(x * x) AS sxx
      FROM w WHERE win IS NOT NULL GROUP BY win
    ),
    wide AS (
      SELECT max(CASE WHEN win = 'pre' THEN n END) AS n0,
             max(CASE WHEN win = 'pre' THEN sx / n END) AS m0,
             max(CASE WHEN win = 'pre'
                      THEN (sxx - sx * sx / n) / (n - 1) END) AS v0,
             max(CASE WHEN win = 'post' THEN n END) AS n1,
             max(CASE WHEN win = 'post' THEN sx / n END) AS m1,
             max(CASE WHEN win = 'post'
                      THEN (sxx - sx * sx / n) / (n - 1) END) AS v1
      FROM g
    )
    SELECT CAST(n0 AS BIGINT) AS n_pre, CAST(n1 AS BIGINT) AS n_post,
           floor(m0 * 1000000 + 0.5) / 1000000 AS mean_pre,
           floor(m1 * 1000000 + 0.5) / 1000000 AS mean_post,
           floor((m1 - m0) * 1000000 + 0.5) / 1000000 AS effect,
           floor((m1 - m0) / sqrt(v1 / n1 + v0 / n0) * 10000 + 0.5) / 10000
             AS effect_z
    FROM wide
    """,
)
def ts_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event study around 1995-06-30: mean daily demand in the 28
    days before vs after, with the Welch z on the difference — the
    two-window primitive behind 'did the policy change move the
    level' when no control group exists (stats_diff_in_diff is the
    with-control upgrade). Symmetric windows cancel slow trends to
    first order. Two conditional moment sums over the |days| rollup.
    Integer sums → exact. Ref: reference event-study tests (cf.
    stats_chow_test for the slope version, ts_binary_segmentation
    for data-driven break dates)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum("l_quantity").cast("double").alias("x")
    )
    d0 = F.lit(_EVENT_DAY).cast("date")
    w = daily.select(
        "x",
        F.when(
            (F.col("day") > d0) & (F.col("day") <= F.date_add(d0, _WIN_D)),
            "post",
        )
        .when(
            (F.col("day") <= d0) & (F.col("day") > F.date_sub(d0, _WIN_D)),
            "pre",
        )
        .alias("win"),
    ).filter(F.col("win").isNotNull())
    g = w.groupBy("win").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    m = F.col("sx") / F.col("n")
    v = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    wide = g.agg(
        F.max(F.when(F.col("win") == "pre", F.col("n"))).alias("n0"),
        F.max(F.when(F.col("win") == "pre", m)).alias("m0"),
        F.max(F.when(F.col("win") == "pre", v)).alias("v0"),
        F.max(F.when(F.col("win") == "post", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("win") == "post", m)).alias("m1"),
        F.max(F.when(F.col("win") == "post", v)).alias("v1"),
    )
    q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
    eff = F.col("m1") - F.col("m0")
    z = eff / F.sqrt(F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0"))
    return wide.select(
        F.col("n0").cast("bigint").alias("n_pre"),
        F.col("n1").cast("bigint").alias("n_post"),
        q6(F.col("m0")).alias("mean_pre"),
        q6(F.col("m1")).alias("mean_post"),
        q6(eff).alias("effect"),
        q4(z).alias("effect_z"),
    )
