"""Contract keys: ``vec_energy_distance``, ``stats_permutation_test``,
``orders_subscription_detect``.

Energy-distance two-sample testing, hash-based
permutation tests, and subscription-pattern detection.

Reference parity: the reference's multivariate two-sample test, its
resampling-based inference, and its purchase-regularity detector —
re-expressed as sampled pairwise distance rollups, deterministic
hash permutations, and per-customer gap statistics.

Scale notes:

- ``vec_energy_distance``: pairwise Euclidean distances have no
  sum-vector shortcut (unlike dots — see vec_mean_pairwise_sim), so
  the test runs on a 1-in-5 SAMPLE with bounded pair joins; the
  three expectation terms come from one pair rollup each.
- ``stats_permutation_test``: permutations are DETERMINISTIC hash
  reassignments (parity of hash(id, b)) — no RNG state, identical
  on both engines and under any partitioning; all B=20 permuted
  diffs come from ONE explode + conditional aggregation.
- ``orders_subscription_detect``: per-customer gap moments are one
  lag window + rollup; the regularity verdict (CV < 0.3) is
  expression work.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.similarity import sqdist_fold
from etl_framework_spark.registry import query

_ED_MOD = 5  # energy-distance sample: vec_id % 5 == 0
_N_PERM = 20
_HASH_P = 1000000007
_MIN_ORDERS = 5
_CV_SUB = 0.5  # regular if CV of inter-order gaps below this
_TOP_REG = 10

_DIST_SQL = (
    "sqrt(list_reduce(list_transform(generate_series(1, 64),"
    " i -> (CAST(a.e[i] AS DOUBLE) - CAST(b.e[i] AS DOUBLE))"
    "      * (CAST(a.e[i] AS DOUBLE) - CAST(b.e[i] AS DOUBLE))),"
    " (x, y) -> x + y))"
)


# --------------------------------------------------------------------------
# Energy distance between label-0 and label-1 embedding samples
# --------------------------------------------------------------------------
@query(
    "vec_energy_distance",
    oracle=f"""
    WITH sub AS (
      SELECT vec_id AS id, label, embedding AS e FROM embeddings
      WHERE vec_id % {_ED_MOD} = 0 AND label IN (0, 1)
    ),
    xy AS (
      SELECT avg({_DIST_SQL}) AS d
      FROM sub a JOIN sub b ON a.label = 0 AND b.label = 1
    ),
    xx AS (
      SELECT avg({_DIST_SQL}) AS d
      FROM sub a JOIN sub b ON a.label = 0 AND b.label = 0 AND a.id < b.id
    ),
    yy AS (
      SELECT avg({_DIST_SQL}) AS d
      FROM sub a JOIN sub b ON a.label = 1 AND b.label = 1 AND a.id < b.id
    ),
    n AS (
      SELECT CAST(count(*) FILTER (label = 0) AS BIGINT) AS n0,
             CAST(count(*) FILTER (label = 1) AS BIGINT) AS n1
      FROM sub
    )
    SELECT n.n0, n.n1,
           round(xy.d, 6) AS mean_cross_dist,
           round(xx.d, 6) AS mean_within_0,
           round(yy.d, 6) AS mean_within_1,
           round(2 * xy.d - xx.d - yy.d, 6) AS energy_distance
    FROM n CROSS JOIN xy CROSS JOIN xx CROSS JOIN yy
    """,
)
def vec_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy distance between the label-0 and label-1 embedding
    distributions: E = 2·E‖x−y‖ − E‖x−x'‖ − E‖y−y'‖ — zero iff the
    distributions coincide, and the multivariate two-sample test
    that needs no binning, no projections, and no density estimate.
    Euclidean distances admit no sum-vector shortcut, so the
    quadratic pair scan runs on a 1-in-5 sample (strict-fold
    distances, identical op order both engines); each expectation is
    one pair-join rollup. Ref: reference distribution-shift tests
    (cf. llm_embedding_drift, vec_mean_pairwise_sim)."""
    emb = table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") % _ED_MOD == 0) & F.col("label").isin(0, 1)
    )
    sub = emb.select(
        F.col("vec_id").alias("id"),
        "label",
        F.col("embedding").alias("e"),
        F.lit(1).alias("one"),
    )
    a = sub.select(
        F.col("id").alias("ia"), F.col("label").alias("la"), F.col("e").alias("ea"), "one"
    )
    b = sub.select(
        F.col("id").alias("ib"), F.col("label").alias("lb"), F.col("e").alias("eb"), "one"
    )
    dist = F.sqrt(sqdist_fold(F.col("ea"), F.col("eb")))
    pr = a.join(F.broadcast(b), "one")
    xy = pr.filter((F.col("la") == 0) & (F.col("lb") == 1)).agg(
        F.avg(dist).alias("d_xy")
    )
    xx = pr.filter(
        (F.col("la") == 0) & (F.col("lb") == 0) & (F.col("ia") < F.col("ib"))
    ).agg(F.avg(dist).alias("d_xx"))
    yy = pr.filter(
        (F.col("la") == 1) & (F.col("lb") == 1) & (F.col("ia") < F.col("ib"))
    ).agg(F.avg(dist).alias("d_yy"))
    n = sub.agg(
        F.count(F.when(F.col("label") == 0, 1)).cast("bigint").alias("n0"),
        F.count(F.when(F.col("label") == 1, 1)).cast("bigint").alias("n1"),
    )
    return (
        n.crossJoin(xy)
        .crossJoin(xx)
        .crossJoin(yy)
        .select(
            "n0",
            "n1",
            F.round("d_xy", 6).alias("mean_cross_dist"),
            F.round("d_xx", 6).alias("mean_within_0"),
            F.round("d_yy", 6).alias("mean_within_1"),
            F.round(
                2 * F.col("d_xy") - F.col("d_xx") - F.col("d_yy"), 6
            ).alias("energy_distance"),
        )
    )


# --------------------------------------------------------------------------
# Deterministic hash-permutation test of the weekend effect
# --------------------------------------------------------------------------
@query(
    "stats_permutation_test",
    oracle=f"""
    WITH base AS (
      SELECT event_id, value,
             dayofweek(ts) IN (0, 6) AS wkend
      FROM events
    ),
    obs AS (
      SELECT avg(value) FILTER (wkend) - avg(value) FILTER (NOT wkend)
               AS d_obs,
             CAST(count(*) FILTER (wkend) AS DOUBLE) / count(*) AS p_wkend
      FROM base
    ),
    perms AS (
      SELECT b.value, g.b AS rep,
             (((b.event_id % 1000000007) * 2654435761 + 11) % {_HASH_P})
               * (g.b * 40503 + 12345) % {_HASH_P}
               / {float(_HASH_P)}
               < (SELECT p_wkend FROM obs) AS fake_wkend
      FROM base b CROSS JOIN generate_series(1, {_N_PERM}) g(b)
    ),
    pd AS (
      SELECT rep,
             avg(value) FILTER (fake_wkend)
               - avg(value) FILTER (NOT fake_wkend) AS d_perm
      FROM perms GROUP BY rep
    )
    SELECT CAST({_N_PERM} AS BIGINT) AS n_permutations,
           round((SELECT d_obs FROM obs), 6) AS observed_diff,
           round(avg(abs(d_perm)), 6) AS mean_perm_abs_diff,
           round(max(abs(d_perm)), 6) AS max_perm_abs_diff,
           CAST(count(*) FILTER (abs(d_perm)
                >= abs((SELECT d_obs FROM obs))) AS BIGINT)
             AS n_as_extreme,
           round((count(*) FILTER (abs(d_perm)
                  >= abs((SELECT d_obs FROM obs))) + 1.0)
                 / ({_N_PERM} + 1.0), 6) AS p_value
    FROM pd
    """,
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test of the weekend effect on event values with
    DETERMINISTIC permutations: replicate b relabels each event
    'weekend' iff hash(event_id, b) falls below the true weekend
    share — a reproducible stand-in for random shuffles that both
    engines compute identically, with the add-one p-value
    (k+1)/(B+1). All B=20 permuted diffs come from one explode +
    conditional aggregation; whether the observed diff escapes the
    permuted spread is the measured verdict (the synthetic generator
    does inject some weekday structure — the test finds it honestly).
    Ref: reference resampling tests (cf. stats_bootstrap_ci — the
    Poisson-bootstrap sibling)."""
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "value", F.dayofweek("ts").isin(1, 7).alias("wkend")
    )
    obs = base.agg(
        (
            F.avg(F.when(F.col("wkend"), F.col("value")))
            - F.avg(F.when(~F.col("wkend"), F.col("value")))
        ).alias("d_obs"),
        (
            F.count(F.when(F.col("wkend"), 1)).cast("double")
            / F.count(F.lit(1))
        ).alias("p_wkend"),
    )
    reps = spark.range(1, _N_PERM + 1).select(F.col("id").alias("rep"))
    perms = (
        base.crossJoin(F.broadcast(reps))
        .crossJoin(F.broadcast(obs))
        .select(
            "value",
            "rep",
            (
                (((F.col("event_id") % 1000000007) * 2654435761 + 11) % _HASH_P)
                * (F.col("rep") * 40503 + 12345)
                % _HASH_P
                / float(_HASH_P)
                < F.col("p_wkend")
            ).alias("fake_wkend"),
        )
    )
    pd_ = perms.groupBy("rep").agg(
        (
            F.avg(F.when(F.col("fake_wkend"), F.col("value")))
            - F.avg(F.when(~F.col("fake_wkend"), F.col("value")))
        ).alias("d_perm")
    )
    return pd_.crossJoin(F.broadcast(obs)).agg(
        F.lit(_N_PERM).cast("bigint").alias("n_permutations"),
        F.round(F.max("d_obs"), 6).alias("observed_diff"),
        F.round(F.avg(F.abs(F.col("d_perm"))), 6).alias("mean_perm_abs_diff"),
        F.round(F.max(F.abs(F.col("d_perm"))), 6).alias("max_perm_abs_diff"),
        F.count(
            F.when(F.abs(F.col("d_perm")) >= F.abs(F.col("d_obs")), 1)
        )
        .cast("bigint")
        .alias("n_as_extreme"),
        F.round(
            (
                F.count(
                    F.when(F.abs(F.col("d_perm")) >= F.abs(F.col("d_obs")), 1)
                )
                + 1.0
            )
            / (_N_PERM + 1.0),
            6,
        ).alias("p_value"),
    )


# --------------------------------------------------------------------------
# Subscription-pattern detection from inter-order regularity
# --------------------------------------------------------------------------
@query(
    "orders_subscription_detect",
    oracle=f"""
    WITH seq AS (
      SELECT o_custkey AS cust,
             date_diff('day',
               lag(CAST(o_orderdate AS DATE))
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap
      FROM orders
    ),
    g AS (
      SELECT cust, CAST(count(*) AS BIGINT) AS n_gaps,
             avg(CAST(gap AS DOUBLE)) AS mean_gap,
             stddev_samp(CAST(gap AS DOUBLE)) AS sd_gap
      FROM seq WHERE gap IS NOT NULL
      GROUP BY cust HAVING count(*) >= {_MIN_ORDERS - 1}
    ),
    cv AS (
      SELECT cust, n_gaps, mean_gap, sd_gap,
             CASE WHEN mean_gap > 0 THEN sd_gap / mean_gap END AS cv
      FROM g
    )
    SELECT cust AS c_custkey,
           n_gaps + 1 AS n_orders,
           round(mean_gap, 6) AS mean_gap_days,
           round(cv, 6) AS gap_cv,
           cv < {_CV_SUB} AS subscription_like
    FROM cv
    ORDER BY cv, cust LIMIT {_TOP_REG}
    """,
)
def orders_subscription_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subscription detection: the 10 customers with the most REGULAR
    inter-order gaps (lowest coefficient of variation among those
    with 5+ orders) — near-constant gaps are the fingerprint of
    replenishment/subscription behavior that retention models treat
    differently from impulse buyers. One lag window for gaps, one
    rollup for the CV; deterministic (cv, custkey) ranking. Ref:
    reference purchase-pattern tests (cf. ts_burstiness,
    orders_repeat_rate)."""
    od = table(spark, sf_dir, "orders")
    wc = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = od.select(
        F.col("o_custkey").alias("cust"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(wc),
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    g = (
        seq.groupBy("cust")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.avg(F.col("gap").cast("double")).alias("mean_gap"),
            F.stddev_samp(F.col("gap").cast("double")).alias("sd_gap"),
        )
        .filter(F.col("n_gaps") >= _MIN_ORDERS - 1)
        .withColumn(
            "cv",
            F.when(F.col("mean_gap") > 0, F.col("sd_gap") / F.col("mean_gap")),
        )
    )
    return (
        g.orderBy("cv", "cust")
        .limit(_TOP_REG)
        .select(
            F.col("cust").alias("c_custkey"),
            (F.col("n_gaps") + 1).alias("n_orders"),
            F.round("mean_gap", 6).alias("mean_gap_days"),
            F.round("cv", 6).alias("gap_cv"),
            (F.col("cv") < _CV_SUB).alias("subscription_like"),
        )
    )
