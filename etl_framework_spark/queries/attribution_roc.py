"""Contract keys: ``events_attribution_compare``,
``events_attribution_position``, ``stats_roc_youden``.

Multi-touch attribution models and ROC operating
points.

Reference parity: the reference's attribution-model suite (last-touch
was round 2's events_attribution; here the first-touch comparison and
the position-based 40/20/40 model) and its ROC threshold chooser —
re-expressed as packed-integer window extremes, a user-blocked
purchase-touch pair join, and Youden's J over the threshold table.

Scale notes:

- ``events_attribution_compare``: first AND last qualifying touch
  come from ONE RANGE-frame window pass using packed t*K+id BIGINTs
  (min picks the earliest touch, max the latest — integer-exact,
  no struct-ordering portability worries); type recovery is one
  equi-join on event id.
- ``events_attribution_position``: the 40/20/40 model needs every
  (purchase, touch) pair — blocked on user_id (equi) before the
  time-window filter, so the pair count is purchases x per-user
  window activity, never corpus².
- ``stats_roc_youden``: TPR/FPR/J at nine thresholds from one
  broadcast-threshold aggregation; the argmax row is flagged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_LOOKBACK_S = 7 * 86400
_PACK = 10000000  # id < 1e7: pack = t * _PACK + event_id stays < 2^63


# --------------------------------------------------------------------------
# First-touch vs last-touch attribution, compared by touch type
# --------------------------------------------------------------------------
@query(
    "events_attribution_compare",
    oracle=f"""
    WITH seq AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t,
             event_type IN ('view', 'click') AS touch
      FROM events
      WHERE event_type IN ('purchase', 'view', 'click')
    ),
    fr AS (
      SELECT event_id, event_type, t,
             min(CASE WHEN touch THEN t * {_PACK} + event_id END)
               OVER w AS first_pack,
             max(CASE WHEN touch THEN t * {_PACK} + event_id END)
               OVER w AS last_pack
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY t
                   RANGE BETWEEN {_LOOKBACK_S} PRECEDING AND 1 PRECEDING)
    ),
    credits AS (
      SELECT first_pack % {_PACK} AS first_id,
             last_pack % {_PACK} AS last_id
      FROM fr WHERE event_type = 'purchase' AND first_pack IS NOT NULL
    ),
    f AS (SELECT e.event_type AS touch_type,
                 CAST(count(*) AS DOUBLE) AS n_first
          FROM credits c JOIN events e ON c.first_id = e.event_id
          GROUP BY touch_type),
    l AS (SELECT e.event_type AS touch_type,
                 CAST(count(*) AS DOUBLE) AS n_last
          FROM credits c JOIN events e ON c.last_id = e.event_id
          GROUP BY touch_type)
    SELECT f.touch_type,
           CAST(f.n_first AS BIGINT) AS n_first_credits,
           CAST(l.n_last AS BIGINT) AS n_last_credits,
           CAST(f.n_first - l.n_last AS BIGINT) AS first_minus_last
    FROM f JOIN l ON f.touch_type = l.touch_type
    """,
)
def events_attribution_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch attribution, credited purchase
    counts per touch type — the one-table answer to 'does our model
    choice change who gets the budget?'. Both extremes of each
    purchase's 7-day touch window come from ONE RANGE-frame pass
    over packed t·K+id integers (min = earliest touch, max = latest;
    integer-exact and portable where struct-ordering isn't); the
    credited ids join back for their types. Ref: reference
    attribution tests (cf. events_attribution — the last-touch
    original)."""
    ev = table(spark, sf_dir, "events")
    seq = ev.filter(
        F.col("event_type").isin("purchase", "view", "click")
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("t"),
        F.col("event_type").isin("view", "click").alias("touch"),
    )
    wr = (
        W.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-_LOOKBACK_S, -1)
    )
    pack = F.when(F.col("touch"), F.col("t") * _PACK + F.col("event_id"))
    fr = seq.select(
        "event_id",
        "event_type",
        F.min(pack).over(wr).alias("first_pack"),
        F.max(pack).over(wr).alias("last_pack"),
    )
    credits = fr.filter(
        (F.col("event_type") == "purchase") & F.col("first_pack").isNotNull()
    ).select(
        (F.col("first_pack") % _PACK).alias("first_id"),
        (F.col("last_pack") % _PACK).alias("last_id"),
    )
    types = ev.select("event_id", F.col("event_type").alias("touch_type"))
    f = (
        credits.join(types, credits.first_id == types.event_id)
        .groupBy("touch_type")
        .agg(F.count(F.lit(1)).cast("double").alias("n_first"))
    )
    l = (
        credits.join(types, credits.last_id == types.event_id)
        .groupBy("touch_type")
        .agg(F.count(F.lit(1)).cast("double").alias("n_last"))
    )
    return f.join(l, "touch_type").select(
        "touch_type",
        F.col("n_first").cast("bigint").alias("n_first_credits"),
        F.col("n_last").cast("bigint").alias("n_last_credits"),
        (F.col("n_first") - F.col("n_last"))
        .cast("bigint")
        .alias("first_minus_last"),
    )


# --------------------------------------------------------------------------
# Position-based (40/20/40) multi-touch attribution
# --------------------------------------------------------------------------
@query(
    "events_attribution_position",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS pid, user_id,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS pt
      FROM events WHERE event_type = 'purchase'
    ),
    tch AS (
      SELECT event_id AS tid, user_id, event_type,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS tt
      FROM events WHERE event_type IN ('view', 'click')
    ),
    pairs AS (
      SELECT p.pid, tch.event_type, tch.tt, tch.tid
      FROM p JOIN tch ON p.user_id = tch.user_id
      WHERE tch.tt >= p.pt - {_LOOKBACK_S} AND tch.tt < p.pt
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY pid ORDER BY tt, tid) AS rk,
             count(*) OVER (PARTITION BY pid) AS k
      FROM pairs
    ),
    credited AS (
      SELECT event_type,
             CASE WHEN k = 1 THEN 1.0
                  WHEN k = 2 THEN 0.5
                  WHEN rk = 1 THEN 0.4
                  WHEN rk = k THEN 0.4
                  ELSE 0.2 / (k - 2) END AS credit
      FROM ranked
    )
    SELECT event_type AS touch_type,
           round(sum(credit), 6) AS position_credit,
           CAST(count(*) AS BIGINT) AS n_touch_instances
    FROM credited GROUP BY touch_type
    """,
)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution:
    each purchase spreads one unit of credit over its 7-day touch
    path — 40% to the first touch, 40% to the last, 20% split across
    the middle (solo touch takes 1.0, a pair splits 50/50) — the
    model that stops first/last-touch from erasing mid-funnel work.
    The (purchase, touch) pairs are blocked on user_id BEFORE the
    time filter; positions come from one per-purchase window rank.
    Credit totals per type are the budget-allocation row. Ref:
    reference attribution tests (cf. events_attribution_compare)."""
    ev = table(spark, sf_dir, "events")
    t_expr = F.unix_timestamp(F.date_trunc("second", F.col("ts")))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        t_expr.alias("pt"),
    )
    tch = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("tid"),
        "user_id",
        "event_type",
        t_expr.alias("tt"),
    )
    pairs = p.join(tch, "user_id").filter(
        (F.col("tt") >= F.col("pt") - _LOOKBACK_S) & (F.col("tt") < F.col("pt"))
    )
    wp = W.partitionBy("pid").orderBy("tt", "tid")
    ranked = pairs.withColumn("rk", F.row_number().over(wp)).withColumn(
        "k", F.count(F.lit(1)).over(W.partitionBy("pid"))
    )
    credit = (
        F.when(F.col("k") == 1, 1.0)
        .when(F.col("k") == 2, 0.5)
        .when(F.col("rk") == 1, 0.4)
        .when(F.col("rk") == F.col("k"), 0.4)
        .otherwise(0.2 / (F.col("k") - 2))
    )
    return (
        ranked.select("event_type", credit.alias("credit"))
        .groupBy(F.col("event_type").alias("touch_type"))
        .agg(
            F.round(F.sum("credit"), 6).alias("position_credit"),
            F.count(F.lit(1)).cast("bigint").alias("n_touch_instances"),
        )
    )


# --------------------------------------------------------------------------
# ROC operating points + Youden's J optimal threshold
# --------------------------------------------------------------------------
@query(
    "stats_roc_youden",
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
    th AS (SELECT round(i / 10.0, 1) AS thr FROM generate_series(1, 9) g(i)),
    m AS (
      SELECT thr,
             CAST(count(*) FILTER (phat >= thr AND y = 1.0) AS DOUBLE) AS tp,
             CAST(count(*) FILTER (phat >= thr AND y = 0.0) AS DOUBLE) AS fp,
             CAST(count(*) FILTER (phat < thr AND y = 1.0) AS DOUBLE) AS fn,
             CAST(count(*) FILTER (phat < thr AND y = 0.0) AS DOUBLE) AS tn
      FROM scored CROSS JOIN th GROUP BY thr
    ),
    j AS (
      SELECT thr, tp / (tp + fn) AS tpr, fp / (fp + tn) AS fpr,
             tp / (tp + fn) - fp / (fp + tn) AS youden_j
      FROM m
    )
    SELECT thr AS threshold,
           round(tpr, 6) AS tpr,
           round(fpr, 6) AS fpr,
           round(youden_j, 6) AS youden_j,
           youden_j = max(youden_j) OVER () AS is_optimal
    FROM j
    """,
)
def stats_roc_youden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC operating points (TPR, FPR) at nine thresholds of the PIT
    predictor, with Youden's J = TPR − FPR flagging the threshold a
    cost-agnostic deployment would pick — the ROC-side complement of
    the PR table (stats_pr_curve), and J at the optimum equals the
    two-sample KS statistic between the score distributions. One
    broadcast-threshold aggregation; the argmax is a window over 9
    rows. Ref: reference threshold-chooser tests."""
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
        spark.range(1, 10)
        .select(F.round(F.col("id") / 10.0, 1).alias("thr"))
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
            F.count(F.when((F.col("phat") < F.col("thr")) & (F.col("y") == 0.0), 1))
            .cast("double")
            .alias("tn"),
        )
    )
    tpr = F.col("tp") / (F.col("tp") + F.col("fn"))
    fpr = F.col("fp") / (F.col("fp") + F.col("tn"))
    j = m.select(
        "thr", tpr.alias("tpr"), fpr.alias("fpr"), (tpr - fpr).alias("youden_j")
    )
    return j.select(
        F.col("thr").alias("threshold"),
        F.round("tpr", 6).alias("tpr"),
        F.round("fpr", 6).alias("fpr"),
        F.round("youden_j", 6).alias("youden_j"),
        (F.col("youden_j") == F.max("youden_j").over(W.partitionBy())).alias(
            "is_optimal"
        ),
    )
