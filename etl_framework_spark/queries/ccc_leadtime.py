"""Contract keys: ``stats_lin_ccc``, ``supplier_lead_time``,
``join_semi_window``.

Lin's concordance, supplier lead-time
consistency, and the time-windowed semi-join.

Reference parity: the reference's agreement metric, its supplier
scorecard, and its windowed-existence join pattern — re-expressed
as paired moment closed forms, a per-supplier lag rollup, and a
bucketed time-window semi join.

Scale notes:

- ``stats_lin_ccc``: one self-join on the order key (both sides
  pre-filtered to a single line number), then five scalar sums.
- ``supplier_lead_time``: per-supplier integer-lag moments in one
  join + rollup; ranking over |suppliers|.
- ``join_semi_window``: the hour-bucket equi-join bounds the probe
  (each purchase meets only candidates in its two adjacent buckets
  — never a full cross of user histories), then the exact ±window
  predicate filters; the classic scalable form of EXISTS-within-
  time-window.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_LT_MIN_LINES = 20  # supplier scorecard support gate
_WIN_S = 3600  # semi-join lookback window (seconds)


# --------------------------------------------------------------------------
# Lin's concordance correlation: do line 1 and line 2 AGREE?
# --------------------------------------------------------------------------
@query(
    "stats_lin_ccc",
    oracle="""
    WITH p AS (
      SELECT CAST(a.l_quantity AS DOUBLE) AS x,
             CAST(b.l_quantity AS DOUBLE) AS y
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey
       AND a.l_linenumber = 1 AND b.l_linenumber = 2
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM p
    ),
    s AS (
      SELECT n, sx / n AS mx, sy / n AS my,
             sxx / n - (sx / n) * (sx / n) AS vx,
             syy / n - (sy / n) * (sy / n) AS vy,
             sxy / n - (sx / n) * (sy / n) AS cxy
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           round(cxy / sqrt(vx * vy), 6) AS pearson_r,
           round(2 * cxy / (vx + vy + (mx - my) * (mx - my)), 6) AS lin_ccc,
           round((2 * cxy / (vx + vy + (mx - my) * (mx - my)))
                 / (cxy / sqrt(vx * vy)), 6) AS accuracy_cb
    FROM s
    """,
)
def stats_lin_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance correlation between line-1 and line-2
    quantities of the same order: CCC = 2s_xy/(s_x²+s_y²+(x̄−ȳ)²) —
    Pearson r (precision) DISCOUNTED by the bias correction C_b
    (accuracy: how far the best-fit line sits from the 45° identity).
    The metric for 'does measurement B reproduce measurement A',
    where plain correlation happily rewards a biased instrument.
    One key join + five sums, integer-exact. Ref: reference
    agreement tests (cf. stats_cohens_kappa for categorical,
    stats_deming for the errors-in-both-fit)."""
    li = table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey", F.col("l_quantity").cast("double").alias("x")
    )
    b = li.filter(F.col("l_linenumber") == 2).select(
        "l_orderkey", F.col("l_quantity").cast("double").alias("y")
    )
    p = a.join(b, "l_orderkey")
    m = p.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    s = m.select(
        "n",
        (F.col("sx") / n).alias("mx"),
        (F.col("sy") / n).alias("my"),
        (F.col("sxx") / n - (F.col("sx") / n) * (F.col("sx") / n)).alias("vx"),
        (F.col("syy") / n - (F.col("sy") / n) * (F.col("sy") / n)).alias("vy"),
        (F.col("sxy") / n - (F.col("sx") / n) * (F.col("sy") / n)).alias("cxy"),
    )
    r = F.col("cxy") / F.sqrt(F.col("vx") * F.col("vy"))
    ccc = (
        2
        * F.col("cxy")
        / (
            F.col("vx")
            + F.col("vy")
            + (F.col("mx") - F.col("my")) * (F.col("mx") - F.col("my"))
        )
    )
    return s.select(
        n.cast("bigint").alias("n_pairs"),
        F.round(r, 6).alias("pearson_r"),
        F.round(ccc, 6).alias("lin_ccc"),
        F.round(ccc / r, 6).alias("accuracy_cb"),
    )


# --------------------------------------------------------------------------
# Supplier lead-time consistency scorecard
# --------------------------------------------------------------------------
@query(
    "supplier_lead_time",
    oracle=f"""
    WITH lag AS (
      SELECT l.l_suppkey AS supp,
             CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) AS DOUBLE) AS lag_d
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    g AS (
      SELECT supp, CAST(count(*) AS DOUBLE) AS n,
             sum(lag_d) AS sx, sum(lag_d * lag_d) AS sxx,
             max(lag_d) AS worst
      FROM lag GROUP BY supp HAVING count(*) >= {_LT_MIN_LINES}
    ),
    sc AS (
      SELECT supp, n, sx / n AS mean_lag,
             sqrt((sxx - sx * sx / n) / (n - 1)) AS sd_lag, worst
      FROM g
    )
    SELECT CAST(supp AS BIGINT) AS s_suppkey,
           CAST(n AS BIGINT) AS n_lines,
           round(mean_lag, 6) AS mean_lag_d,
           round(sd_lag, 6) AS sd_lag_d,
           round(sd_lag / mean_lag, 6) AS cv,
           CAST(worst AS BIGINT) AS worst_lag_d
    FROM sc ORDER BY cv DESC, s_suppkey LIMIT 10
    """,
)
def supplier_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier lead-time CONSISTENCY scorecard: the 10 suppliers
    with the highest coefficient of variation of order→ship lag
    (min 20 lines). Procurement's real pain is variance, not mean —
    a steady 30-day supplier beats an erratic 20±25-day one for
    safety-stock sizing; CV is the unit that makes suppliers with
    different product mixes comparable. Integer day lags → exact
    moments; ranking over |suppliers|. Ref: reference supplier-
    scorecard tests (cf. orders_ship_lag for the global view,
    dq_single_source_parts for the risk axis)."""
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lag = li.join(od, li.l_orderkey == od.o_orderkey).select(
        F.col("l_suppkey").alias("supp"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("double")
        .alias("lag_d"),
    )
    g = (
        lag.groupBy("supp")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("lag_d").alias("sx"),
            F.sum(F.col("lag_d") * F.col("lag_d")).alias("sxx"),
            F.max("lag_d").alias("worst"),
        )
        .filter(F.col("n") >= _LT_MIN_LINES)
    )
    sc = g.select(
        "supp",
        "n",
        (F.col("sx") / F.col("n")).alias("mean_lag"),
        F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd_lag"),
        "worst",
    )
    return (
        sc.select(
            F.col("supp").cast("bigint").alias("s_suppkey"),
            F.col("n").cast("bigint").alias("n_lines"),
            F.round("mean_lag", 6).alias("mean_lag_d"),
            F.round("sd_lag", 6).alias("sd_lag_d"),
            F.round(F.col("sd_lag") / F.col("mean_lag"), 6).alias("cv"),
            F.col("worst").cast("bigint").alias("worst_lag_d"),
        )
        .orderBy(F.desc("cv"), "s_suppkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Windowed semi-join: purchases preceded by a click within the hour
# --------------------------------------------------------------------------
@query(
    "join_semi_window",
    oracle=f"""
    WITH p AS (
      SELECT event_id, user_id,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t
      FROM events WHERE event_type = 'click'
    ),
    pb AS (
      SELECT event_id, user_id, t, t // {_WIN_S} AS b FROM p
    ),
    cb AS (
      SELECT user_id, t, unnest([t // {_WIN_S}, t // {_WIN_S} + 1]) AS b
      FROM c
    ),
    hits AS (
      SELECT DISTINCT pb.event_id
      FROM pb JOIN cb ON pb.user_id = cb.user_id AND pb.b = cb.b
      WHERE cb.t < pb.t AND cb.t >= pb.t - {_WIN_S}
    )
    SELECT CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchases,
           CAST(count(*) AS BIGINT) AS n_with_prior_click,
           round(CAST(count(*) AS DOUBLE)
                 / (SELECT count(*) FROM p), 6) AS assisted_share
    FROM hits
    """,
)
def join_semi_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed EXISTS semi-join: the share of purchases with a
    click by the same user in the preceding hour. The scalable form:
    candidates meet on (user, hour-bucket) with clicks replicated
    into the two buckets a one-hour lookback can touch — the probe
    per purchase is its own bucket only, never the user's whole
    history — then the exact ±window predicate filters. The pattern
    behind attribution, fraud velocity checks, and 'was the alert
    preceded by a deploy'. Integer epoch seconds → exact. Ref:
    reference windowed-join tests (cf. join_interval for ranges,
    events_attribution for multi-touch credit)."""
    ev = table(spark, sf_dir, "events")
    tsec = F.unix_timestamp(F.date_trunc("second", F.col("ts"))).cast("bigint")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", tsec.alias("t")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", tsec.alias("t")
    )
    pb = p.select(
        "event_id", "user_id", "t", F.floor(F.col("t") / _WIN_S).alias("b")
    )
    cb = c.select(
        "user_id",
        F.col("t").alias("ct"),
        F.explode(
            F.array(
                F.floor(F.col("t") / _WIN_S),
                F.floor(F.col("t") / _WIN_S) + 1,
            )
        ).alias("b"),
    )
    hits = (
        pb.join(cb, ["user_id", "b"])
        .filter((F.col("ct") < F.col("t")) & (F.col("ct") >= F.col("t") - _WIN_S))
        .select("event_id")
        .distinct()
    )
    np = p.agg(F.count(F.lit(1)).cast("bigint").alias("n_purchases"))
    nh = hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_with_prior_click"))
    return np.crossJoin(F.broadcast(nh)).select(
        "n_purchases",
        "n_with_prior_click",
        F.round(
            F.col("n_with_prior_click").cast("double") / F.col("n_purchases"), 6
        ).alias("assisted_share"),
    )
