"""Contract keys: ``events_alarm_hysteresis``, ``stats_logrank``,
``graph_bipartite_weights``.

Alarm debouncing, the log-rank test, and
bipartite graph projection.

Reference parity: the reference's alerting hysteresis operator, its
survival-curve comparison test, and its graph projection — re-
expressed as a strict stateful fold, censored rollup arithmetic, and
a per-part self-join.

Scale notes:

- ``events_alarm_hysteresis``: raise-after-3 / clear-after-6 is a
  two-threshold state machine — the run lengths RESET on state flips
  chosen by earlier inputs, so no window trick; a strict fold with a
  [alarm, hi_run, lo_run, raises, alarm_hours] accumulator per
  stream. Fold length = hours, streams fold in parallel.
- ``stats_logrank``: both groups' (deaths, at-risk) ladders come
  from per-lifetime rollups + one cumulative window each; the test
  statistic is three sums over the ≤31-row merged ladder. The
  inference twin of events_kaplan_meier.
- ``graph_bipartite_weights``: the supplier-supplier projection
  joins the (part, supplier) edge list to itself ON PART — the join
  explodes per-part supplier pairs, never the full cross product;
  per-part degree is bounded, so the blow-up is Σ deg² over parts
  (the honest cost of any projection), then one count shuffle.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_RAISE_N = 3  # consecutive breaches to raise
_CLEAR_N = 6  # consecutive normals to clear
_THR_MULT = 1.3  # breach threshold = mult * mean hourly count
_CENSOR_TAIL_D = 2
_TOP_PAIRS = 20


# --------------------------------------------------------------------------
# Debounced alerting (hysteresis) over hourly event counts
# --------------------------------------------------------------------------
@query(
    "events_alarm_hysteresis",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM events GROUP BY event_type, h
    ),
    thr AS (
      SELECT event_type, avg(cnt) * {_THR_MULT} AS thr
      FROM hourly GROUP BY event_type
    ),
    arrs AS (
      SELECT hourly.event_type,
             CAST(count(*) AS BIGINT) AS n_hours,
             list(CASE WHEN cnt > thr THEN 1.0 ELSE 0.0 END ORDER BY h)
               AS xs
      FROM hourly JOIN thr ON hourly.event_type = thr.event_type
      GROUP BY hourly.event_type
    ),
    st AS (
      SELECT event_type, n_hours,
             list_reduce(
               array_concat([[CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                              CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                              CAST(0.0 AS DOUBLE)]],
                            list_transform(xs, b -> [b, CAST(0.0 AS DOUBLE),
                                                     CAST(0.0 AS DOUBLE),
                                                     CAST(0.0 AS DOUBLE),
                                                     CAST(0.0 AS DOUBLE)])),
               (acc, el) -> [
                 CASE WHEN acc[1] = 0.0
                           AND (CASE WHEN el[1] = 1.0 THEN acc[2] + 1
                                     ELSE 0.0 END) >= {_RAISE_N} THEN 1.0
                      WHEN acc[1] = 1.0
                           AND (CASE WHEN el[1] = 1.0 THEN 0.0
                                     ELSE acc[3] + 1 END) >= {_CLEAR_N}
                        THEN 0.0
                      ELSE acc[1] END,
                 CASE WHEN el[1] = 1.0 THEN acc[2] + 1 ELSE 0.0 END,
                 CASE WHEN el[1] = 1.0 THEN 0.0 ELSE acc[3] + 1 END,
                 acc[4] + CASE WHEN acc[1] = 0.0
                               AND (CASE WHEN el[1] = 1.0 THEN acc[2] + 1
                                         ELSE 0.0 END) >= {_RAISE_N}
                               THEN 1.0 ELSE 0.0 END,
                 acc[5] + CASE WHEN acc[1] = 0.0
                               AND (CASE WHEN el[1] = 1.0 THEN acc[2] + 1
                                         ELSE 0.0 END) >= {_RAISE_N} THEN 1.0
                               WHEN acc[1] = 1.0
                               AND NOT ((CASE WHEN el[1] = 1.0 THEN 0.0
                                         ELSE acc[3] + 1 END) >= {_CLEAR_N})
                               THEN 1.0 ELSE 0.0 END]) AS s
      FROM arrs
    )
    SELECT event_type, n_hours,
           CAST(s[4] AS BIGINT) AS n_alarms_raised,
           CAST(s[5] AS BIGINT) AS alarm_hours,
           s[1] = 1.0 AS alarm_at_end
    FROM st
    """,
)
def events_alarm_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounced alerting over each event-type's hourly counts: an
    alarm RAISES only after 3 consecutive hours above 1.3x the mean
    and CLEARS only after 6 consecutive quiet hours — the hysteresis
    that turns a flappy threshold into an actionable pager. The run
    counters reset on state flips decided by earlier inputs, so this
    is a strict fold with [alarm, hi_run, lo_run, raises,
    alarm_hours] state (init all-zero ridden as the first DuckDB list
    element; every condition inlined IDENTICALLY on both engines).
    Ref: reference alerting-operator tests (cf. ts_cusum,
    events_anomaly)."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("h"),
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    thr = hourly.groupBy("event_type").agg(
        (F.avg("cnt") * _THR_MULT).alias("thr")
    )
    arrs = (
        hourly.join(F.broadcast(thr), "event_type")
        .withColumn(
            "b", F.when(F.col("cnt") > F.col("thr"), 1.0).otherwise(0.0)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.array_sort(F.collect_list(F.struct("h", "b"))).alias("sv"),
        )
    )
    xs = F.transform(F.col("sv"), lambda s: s["b"])
    zero = F.lit(0.0).cast("double")
    init = F.struct(
        zero.alias("alarm"),
        zero.alias("hi"),
        zero.alias("lo"),
        zero.alias("raises"),
        zero.alias("hours"),
    )
    breach = lambda b: b == 1.0
    hi_new = lambda acc, b: F.when(breach(b), acc["hi"] + 1).otherwise(F.lit(0.0))
    lo_new = lambda acc, b: F.when(breach(b), F.lit(0.0)).otherwise(acc["lo"] + 1)
    raised = lambda acc, b: (acc["alarm"] == 0.0) & (hi_new(acc, b) >= _RAISE_N)
    cleared = lambda acc, b: (acc["alarm"] == 1.0) & (lo_new(acc, b) >= _CLEAR_N)
    state = F.aggregate(
        xs,
        init,
        lambda acc, b: F.struct(
            F.when(raised(acc, b), F.lit(1.0))
            .when(cleared(acc, b), F.lit(0.0))
            .otherwise(acc["alarm"])
            .alias("alarm"),
            hi_new(acc, b).alias("hi"),
            lo_new(acc, b).alias("lo"),
            (
                acc["raises"]
                + F.when(raised(acc, b), F.lit(1.0)).otherwise(F.lit(0.0))
            ).alias("raises"),
            (
                acc["hours"]
                + F.when(raised(acc, b), F.lit(1.0))
                .when(
                    (acc["alarm"] == 1.0) & ~cleared(acc, b), F.lit(1.0)
                )
                .otherwise(F.lit(0.0))
            ).alias("hours"),
        ),
    )
    return arrs.select(
        "event_type",
        "n_hours",
        state["raises"].cast("bigint").alias("n_alarms_raised"),
        state["hours"].cast("bigint").alias("alarm_hours"),
        (state["alarm"] == 1.0).alias("alarm_at_end"),
    )


# --------------------------------------------------------------------------
# Log-rank test: survival difference between even and odd users
# --------------------------------------------------------------------------
@query(
    "stats_logrank",
    oracle=f"""
    WITH life AS (
      SELECT user_id % 2 = 0 AS grp,
             date_diff('day', CAST(date_trunc('day', min(ts)) AS DATE),
                       CAST(date_trunc('day', max(ts)) AS DATE)) AS t,
             date_diff('day', CAST(date_trunc('day', max(ts)) AS DATE),
                       (SELECT CAST(date_trunc('day', max(ts)) AS DATE)
                        FROM events)) < {_CENSOR_TAIL_D} AS censored
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT t,
             CAST(count(*) FILTER (grp AND NOT censored) AS DOUBLE) AS d1,
             CAST(count(*) FILTER (grp) AS DOUBLE) AS e1,
             CAST(count(*) FILTER (NOT censored) AS DOUBLE) AS d,
             CAST(count(*) AS DOUBLE) AS e
      FROM life GROUP BY t
    ),
    r AS (
      SELECT t, d1, d,
             (SELECT CAST(count(*) AS DOUBLE) FROM life WHERE grp)
               - coalesce(sum(e1) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n1,
             (SELECT CAST(count(*) AS DOUBLE) FROM life)
               - coalesce(sum(e) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n
      FROM g
    ),
    s AS (
      SELECT coalesce(sum(d1), 0.0) AS o1,
             coalesce(sum(d * n1 / n), 0.0) AS e1,
             coalesce(sum(CASE WHEN n > 1
                      THEN d * (n1 / n) * (1 - n1 / n) * (n - d) / (n - 1)
                      ELSE 0 END), 0.0) AS v
      FROM r WHERE d > 0
    )
    SELECT round(o1, 1) AS observed_grp1,
           round(e1, 6) AS expected_grp1,
           round(v, 6) AS variance,
           round(CASE WHEN v > 0 THEN (o1 - e1) * (o1 - e1) / v
                      ELSE 0 END, 6) AS chi2,
           CASE WHEN v > 0
                THEN (o1 - e1) * (o1 - e1) / v > 3.841458820694124
                ELSE FALSE END AS significant
    FROM s
    """,
)
def stats_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: do even- and odd-id users have different
    survival (lifetime) curves? At each death time the observed group-1
    deaths are compared with the expectation d·n₁/n under the null of
    identical hazards; χ² = (ΣO−ΣE)²/ΣV with the hypergeometric
    variance. Censoring is the same right-tail rule as
    events_kaplan_meier — this is that curve's inference twin. All
    ladders are windows over the ≤31-row lifetime rollup; the null is
    TRUE here by construction, so the statistic should be small.
    Ref: reference survival-comparison tests."""
    ev = table(spark, sf_dir, "events")
    end = ev.agg(F.date_trunc("day", F.max("ts")).cast("date").alias("end_day"))
    life = (
        ev.groupBy("user_id")
        .agg(
            F.datediff(
                F.date_trunc("day", F.max("ts")).cast("date"),
                F.date_trunc("day", F.min("ts")).cast("date"),
            ).alias("t"),
            F.date_trunc("day", F.max("ts")).cast("date").alias("last_day"),
        )
        .crossJoin(F.broadcast(end))
        .select(
            (F.col("user_id") % 2 == 0).alias("grp"),
            "t",
            (
                F.datediff(F.col("end_day"), F.col("last_day")) < _CENSOR_TAIL_D
            ).alias("censored"),
        )
    )
    g = life.groupBy("t").agg(
        F.count(F.when(F.col("grp") & ~F.col("censored"), 1))
        .cast("double")
        .alias("d1"),
        F.count(F.when(F.col("grp"), 1)).cast("double").alias("e1"),
        F.count(F.when(~F.col("censored"), 1)).cast("double").alias("d"),
        F.count(F.lit(1)).cast("double").alias("e"),
    )
    tots = life.agg(
        F.count(F.when(F.col("grp"), 1)).cast("double").alias("tot1"),
        F.count(F.lit(1)).cast("double").alias("tot"),
    )
    w_prev = W.partitionBy().orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    r = (
        g.crossJoin(F.broadcast(tots))
        .withColumn(
            "n1",
            F.col("tot1")
            - F.coalesce(F.sum("e1").over(w_prev), F.lit(0.0)),
        )
        .withColumn(
            "n",
            F.col("tot") - F.coalesce(F.sum("e").over(w_prev), F.lit(0.0)),
        )
        .filter(F.col("d") > 0)
    )
    s = r.agg(
        F.coalesce(F.sum("d1"), F.lit(0.0)).alias("o1"),
        F.coalesce(
            F.sum(F.col("d") * F.col("n1") / F.col("n")), F.lit(0.0)
        ).alias("e1x"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("n") > 1,
                    F.col("d")
                    * (F.col("n1") / F.col("n"))
                    * (1 - F.col("n1") / F.col("n"))
                    * (F.col("n") - F.col("d"))
                    / (F.col("n") - 1),
                ).otherwise(F.lit(0.0))
            ),
            F.lit(0.0),
        ).alias("v"),
    )
    chi2_raw = (
        (F.col("o1") - F.col("e1x")) * (F.col("o1") - F.col("e1x")) / F.col("v")
    )
    chi2 = F.when(F.col("v") > 0, chi2_raw).otherwise(F.lit(0.0))
    sig = F.when(F.col("v") > 0, chi2_raw > 3.841458820694124).otherwise(
        F.lit(False)
    )
    return s.select(
        F.round("o1", 1).alias("observed_grp1"),
        F.round("e1x", 6).alias("expected_grp1"),
        F.round("v", 6).alias("variance"),
        F.round(chi2, 6).alias("chi2"),
        sig.alias("significant"),
    )


# --------------------------------------------------------------------------
# Bipartite projection: co-supplier pair weights via shared parts
# --------------------------------------------------------------------------
@query(
    "graph_bipartite_weights",
    oracle=f"""
    WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    pr AS (
      SELECT a.s AS s1, b.s AS s2
      FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
    ),
    wts AS (
      SELECT s1, s2, CAST(count(*) AS BIGINT) AS shared_parts
      FROM pr GROUP BY s1, s2
    )
    SELECT s1, s2, shared_parts
    FROM wts
    ORDER BY shared_parts DESC, s1, s2
    LIMIT {_TOP_PAIRS}
    """,
)
def graph_bipartite_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-supplier pairs by shared part count — the weighted
    supplier-supplier projection of the supplier↔part bipartite
    graph, the substitutability signal supply-chain risk models rank
    by. The projection self-joins the DISTINCT edge list ON PART, so
    the blow-up is Σ(per-part degree²) — bounded per part — never a
    supplier cross product; one count shuffle then a deterministic
    top-k. Ref: reference graph-projection tests (cf.
    graph_khop_reach, graph_triangles)."""
    # r11 optimization (guide 2.4): the distinct-edge-list self-join
    # (2 lineitem scans + a distinct exchange per side + the p-keyed
    # join exchanges) is replaced with the shared one-shuffle
    # co_occurrence_pairs operator its siblings (graph_kcore_peel,
    # graph_assortativity) already use: groupBy(part) with map-side
    # collect_set dedup, JVM-side pair explode from the sorted set
    # (u < v by construction), partial-agg count. The degree cap is
    # passed structurally inert (2^31) because this key's oracle is
    # uncapped — TPC-H part->supplier degree is ~4-8 at every SF, so
    # no cap is needed for the blow-up bound either.
    from etl_framework_spark.operators.graph import co_occurrence_pairs

    li = table(spark, sf_dir, "lineitem")
    wts = co_occurrence_pairs(
        li, "l_partkey", "l_suppkey", max_group_degree=2**31 - 1
    ).select(
        F.col("u").alias("s1"),
        F.col("v").alias("s2"),
        F.col("c").cast("bigint").alias("shared_parts"),
    )
    return wts.orderBy(F.desc("shared_parts"), "s1", "s2").limit(_TOP_PAIRS)
