"""Contract keys: ``mix_neyman_allocation``, ``ts_dow_heteroscedasticity``,
``events_user_discovery_curve``.

Neyman allocation, day-of-week
heteroscedasticity, and the user-discovery curve.

Reference parity: the reference's survey-sampling designer, its
variance-profile diagnostic, and its audience-growth curve —
re-expressed as stratum-moment closed forms, a 7-group
Brown-Forsythe-style contrast, and a first-seen cumulative window
with a log-log Heaps fit.

Scale notes:

- ``mix_neyman_allocation``: one stratum-moment rollup; allocations
  are row-local closed forms.
- ``ts_dow_heteroscedasticity``: |days| rollup → 7-group moments.
- ``events_user_discovery_curve``: first-seen flags come from one
  per-user min; the curve is a window over |days|; the Heaps
  exponent is a closed-form log-log fit.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_SAMPLE_N = 1000.0  # total sample budget for the allocation


# --------------------------------------------------------------------------
# Neyman allocation of a 1000-row sample across nation strata
# --------------------------------------------------------------------------
@query(
    "mix_neyman_allocation",
    oracle=f"""
    WITH base AS (
      SELECT c.c_nationkey AS nation, o.o_totalprice AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (
      SELECT nation, CAST(count(*) AS DOUBLE) AS nh,
             sum(y) AS sx, sum(y * y) AS sxx
      FROM base GROUP BY nation
    ),
    s AS (
      SELECT nation, nh,
             sqrt((sxx - sx * sx / nh) / (nh - 1)) AS sh
      FROM g
    ),
    t AS (SELECT sum(nh) AS n, sum(nh * sh) AS w FROM s)
    SELECT s.nation,
           CAST(s.nh AS BIGINT) AS stratum_size,
           floor(s.sh * 100 + 0.5) / 100 AS stratum_sd,
           floor({_SAMPLE_N} * s.nh / t.n * 100 + 0.5) / 100
             AS alloc_proportional,
           floor({_SAMPLE_N} * s.nh * s.sh / t.w * 100 + 0.5) / 100
             AS alloc_neyman,
           floor((s.nh * s.sh / t.w - s.nh / t.n) * {_SAMPLE_N} * 100 + 0.5)
             / 100 AS alloc_shift
    FROM s CROSS JOIN t ORDER BY s.nation
    """,
)
def mix_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman allocation of a 1000-row sample across nation strata:
    n_h ∝ N_h·S_h (size × within-stratum SD) next to the naive
    proportional allocation, with the shift each stratum gets. THE
    survey-sampling design table: volatile strata earn extra sample,
    homogeneous ones give it up — minimizing the stratified-mean
    variance at fixed budget. One stratum-moment rollup; closed
    forms after. Ref: reference sampling-design tests (cf.
    train_stratified for executing a design, train_ess_weights for
    diagnosing one)."""
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    base = od.join(cu, od.o_custkey == cu.c_custkey).select(
        F.col("c_nationkey").alias("nation"), F.col("o_totalprice").alias("y")
    )
    g = base.groupBy("nation").agg(
        F.count(F.lit(1)).cast("double").alias("nh"),
        F.sum("y").alias("sx"),
        F.sum(F.col("y") * F.col("y")).alias("sxx"),
    )
    s = g.select(
        "nation",
        "nh",
        F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("nh"))
            / (F.col("nh") - 1)
        ).alias("sh"),
    )
    t = s.agg(F.sum("nh").alias("n"), F.sum(F.col("nh") * F.col("sh")).alias("w"))
    j = s.crossJoin(F.broadcast(t))
    q2 = lambda c: F.floor(c * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)
    return j.select(
        "nation",
        F.col("nh").cast("bigint").alias("stratum_size"),
        q2(F.col("sh")).alias("stratum_sd"),
        q2(_SAMPLE_N * F.col("nh") / F.col("n")).alias("alloc_proportional"),
        q2(_SAMPLE_N * F.col("nh") * F.col("sh") / F.col("w")).alias(
            "alloc_neyman"
        ),
        q2(
            (F.col("nh") * F.col("sh") / F.col("w") - F.col("nh") / F.col("n"))
            * _SAMPLE_N
        ).alias("alloc_shift"),
    ).orderBy("nation")


# --------------------------------------------------------------------------
# Day-of-week heteroscedasticity of daily demand
# --------------------------------------------------------------------------
@query(
    "ts_dow_heteroscedasticity",
    oracle="""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(sum(l_quantity) AS DOUBLE) AS x
      FROM lineitem GROUP BY day
    ),
    d AS (
      SELECT CAST(dayofweek(day) + 1 AS BIGINT) AS dow, x FROM daily
    ),
    g AS (
      SELECT dow, CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(x * x) AS sxx
      FROM d GROUP BY dow
    ),
    v AS (
      SELECT dow, n, sx / n AS mean_x,
             (sxx - sx * sx / n) / (n - 1) AS var_x
      FROM g
    ),
    t AS (SELECT max(var_x) / min(var_x) AS vratio FROM v)
    SELECT v.dow,
           CAST(v.n AS BIGINT) AS n_days,
           floor(v.mean_x * 1000000 + 0.5) / 1000000 AS mean_qty,
           floor(v.var_x * 10000 + 0.5) / 10000 AS var_qty,
           floor(t.vratio * 1000000 + 0.5) / 1000000 AS max_min_var_ratio
    FROM v CROSS JOIN t ORDER BY v.dow
    """,
)
def ts_dow_heteroscedasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week variance profile of daily demand: per-weekday
    mean and variance plus the max/min variance ratio — the
    heteroscedasticity check that decides whether a single global
    safety-stock buffer works or weekends need their own (ratio ≫ 1
    = variance has a weekly rhythm even if the MEAN doesn't). |days|
    rollup → 7-group moments, integer sums → exact. Ref: reference
    variance-profile tests (cf. events_hour_dow_profile for the
    mean view, stats_levene for the formal test)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum("l_quantity").cast("double").alias("x")
    )
    d = daily.select(F.dayofweek("day").cast("bigint").alias("dow"), "x")
    g = d.groupBy("dow").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    v = g.select(
        "dow",
        "n",
        (F.col("sx") / F.col("n")).alias("mean_x"),
        ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)).alias(
            "var_x"
        ),
    )
    t = v.agg((F.max("var_x") / F.min("var_x")).alias("vratio"))
    j = v.crossJoin(F.broadcast(t))
    return j.select(
        "dow",
        F.col("n").cast("bigint").alias("n_days"),
        (F.floor(F.col("mean_x") * 1000000.0 + 0.5) / 1000000.0).alias("mean_qty"),
        (F.floor(F.col("var_x") * 10000.0 + 0.5) / 10000.0).alias("var_qty"),
        (F.floor(F.col("vratio") * 1000000.0 + 0.5) / 1000000.0).alias(
            "max_min_var_ratio"
        ),
    ).orderBy("dow")


# --------------------------------------------------------------------------
# User discovery curve: cumulative distinct users + Heaps exponent
# --------------------------------------------------------------------------
@query(
    "events_user_discovery_curve",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CAST(date_trunc('day', date_trunc('second', ts)) AS DATE))
               AS d0
      FROM events GROUP BY user_id
    ),
    newd AS (
      SELECT d0 AS day, CAST(count(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY day
    ),
    evd AS (
      SELECT CAST(date_trunc('day', date_trunc('second', ts)) AS DATE)
               AS day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY day
    ),
    c AS (
      SELECT e.day, e.n_events,
             coalesce(n.new_users, 0) AS new_users,
             sum(coalesce(n.new_users, 0)) OVER (ORDER BY e.day) AS cum_u,
             sum(e.n_events) OVER (ORDER BY e.day) AS cum_e
      FROM evd e LEFT JOIN newd n ON e.day = n.day
    ),
    fit AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(ln(CAST(cum_e AS DOUBLE))) AS sx,
             sum(ln(CAST(cum_u AS DOUBLE))) AS sy,
             sum(ln(CAST(cum_e AS DOUBLE)) * ln(CAST(cum_u AS DOUBLE)))
               AS sxy,
             sum(ln(CAST(cum_e AS DOUBLE)) * ln(CAST(cum_e AS DOUBLE)))
               AS sxx
      FROM c
    )
    SELECT CAST((SELECT max(cum_u) FROM c) AS BIGINT) AS total_users,
           CAST((SELECT max(cum_e) FROM c) AS BIGINT) AS total_events,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_days,
           floor((sxy - sx * sy / n) / (sxx - sx * sx / n)
                 * 1000000 + 0.5) / 1000000 AS heaps_beta
    FROM fit
    """,
)
def events_user_discovery_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience discovery curve: cumulative distinct users vs
    cumulative events, summarized by the Heaps exponent β from the
    log-log fit U ∝ E^β. β ≈ 1 = every event is a new user (pure
    acquisition), β → 0 = a closed audience looping (engagement).
    The single number that says whether traffic growth is reach or
    frequency. First-seen flags from one per-user min; cumulative
    windows over |days|; closed-form fit. Ref: reference
    audience-growth tests (cf. llm_heaps_law — the identical law on
    vocabulary, events_new_vs_returning for the daily split)."""
    ev = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.date_trunc("second", F.col("ts"))).cast("date")
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("d0"))
    newd = firsts.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    evd = ev.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    wd = W.orderBy("day")
    c = (
        evd.join(newd, "day", "left")
        .select(
            "day",
            "n_events",
            F.coalesce(F.col("new_users"), F.lit(0)).alias("new_users"),
        )
        .select(
            "day",
            "n_events",
            F.sum("new_users").over(wd).alias("cum_u"),
            F.sum("n_events").over(wd).alias("cum_e"),
        )
    )
    lx = F.log(F.col("cum_e").cast("double"))
    ly = F.log(F.col("cum_u").cast("double"))
    fit = c.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
        F.max("cum_u").cast("bigint").alias("total_users"),
        F.max("cum_e").cast("bigint").alias("total_events"),
    )
    beta = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    return fit.select(
        "total_users",
        "total_events",
        F.col("n").cast("bigint").alias("n_days"),
        (F.floor(beta * 1000000.0 + 0.5) / 1000000.0).alias("heaps_beta"),
    )
