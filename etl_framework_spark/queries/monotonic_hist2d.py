"""Contract keys: ``dq_id_time_monotonic``, ``agg_histogram_2d``,
``ts_variance_ratio``.

ID/time monotonicity audit, 2D histogram, and
the variance-ratio test.

Reference parity: the reference's ordering-contract check, its 2-D
binned profile, and its random-walk diagnostic — re-expressed as a
lag window on the id-ordered stream, a cross-banded rollup, and
overlapping q-difference windows.

Scale notes:

- ``dq_id_time_monotonic``: one window ordered by event_id over the
  events scan; violations are adjacent inversions.
- ``agg_histogram_2d``: one rollup over (qty band × price band);
  shares from two broadcast marginals.
- ``ts_variance_ratio``: the three horizons share one |days| rollup;
  overlapping differences are lag windows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_VR_QS = [2, 4, 8]


# --------------------------------------------------------------------------
# Are event ids assigned in time order? Adjacent-inversion audit
# --------------------------------------------------------------------------
@query(
    "dq_id_time_monotonic",
    oracle="""
    WITH s AS (
      SELECT event_id,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t,
             lag(CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT))
               OVER (ORDER BY event_id) AS pt
      FROM events
    ),
    v AS (SELECT t, pt FROM s WHERE pt IS NOT NULL)
    SELECT CAST(count(*) AS BIGINT) AS n_steps,
           CAST(sum(CASE WHEN t < pt THEN 1 ELSE 0 END) AS BIGINT)
             AS inversions,
           round(CAST(sum(CASE WHEN t < pt THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 9) AS inversion_rate,
           CAST(max(CASE WHEN t < pt THEN pt - t ELSE 0 END) AS BIGINT)
             AS worst_backstep_s,
           CAST(sum(CASE WHEN t = pt THEN 1 ELSE 0 END) AS BIGINT)
             AS same_second_steps
    FROM v
    """,
)
def dq_id_time_monotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordering-contract audit: walking events in event_id order,
    how often does the timestamp step BACKWARD (adjacent
    inversions), how far at worst, and how many steps are same-
    second ties. A nonzero inversion rate breaks every consumer
    that treats the id as an arrival cursor (incremental ETL,
    dedup-by-latest, CDC replay) — the cheap audit that decides
    whether 'order by id' is a valid substitute for 'order by
    time'. One lag window over the id-ordered scan. Ref: reference
    ordering-contract tests (cf. dq_id_gaps for the density axis,
    dq_tz_shift_detect for systematic offsets)."""
    ev = table(spark, sf_dir, "events")
    t = F.unix_timestamp(F.date_trunc("second", F.col("ts"))).cast("bigint")
    s = ev.select("event_id", t.alias("t"))
    s = s.withColumn("pt", F.lag("t").over(W.orderBy("event_id"))).filter(
        F.col("pt").isNotNull()
    )
    inv = F.when(F.col("t") < F.col("pt"), 1).otherwise(0)
    return s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_steps"),
        F.sum(inv).cast("bigint").alias("inversions"),
        F.round(F.sum(inv).cast("double") / F.count(F.lit(1)), 9).alias(
            "inversion_rate"
        ),
        F.max(
            F.when(F.col("t") < F.col("pt"), F.col("pt") - F.col("t")).otherwise(0)
        )
        .cast("bigint")
        .alias("worst_backstep_s"),
        F.sum(F.when(F.col("t") == F.col("pt"), 1).otherwise(0))
        .cast("bigint")
        .alias("same_second_steps"),
    )


# --------------------------------------------------------------------------
# 2D histogram: quantity band x price band with marginals
# --------------------------------------------------------------------------
@query(
    "agg_histogram_2d",
    oracle="""
    WITH b AS (
      SELECT CAST(floor((l_quantity - 1) / 10) AS BIGINT) AS qb,
             CAST(least(floor(l_extendedprice / 20000), 4) AS BIGINT) AS pb
      FROM lineitem
    ),
    cell AS (
      SELECT qb, pb, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY qb, pb
    ),
    rowm AS (SELECT qb, sum(n) AS rn FROM cell GROUP BY qb),
    colm AS (SELECT pb, sum(n) AS cn FROM cell GROUP BY pb),
    tot AS (SELECT sum(n) AS t FROM cell)
    SELECT c.qb AS qty_band, c.pb AS price_band, c.n,
           round(CAST(c.n AS DOUBLE) / r.rn, 6) AS row_share,
           round(CAST(c.n AS DOUBLE) / m.cn, 6) AS col_share,
           round(CAST(c.n AS DOUBLE) * t.t / (r.rn * m.cn), 6)
             AS lift_vs_independence
    FROM cell c JOIN rowm r ON c.qb = r.qb
    JOIN colm m ON c.pb = m.pb CROSS JOIN tot t
    ORDER BY c.qb, c.pb
    """,
)
def agg_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D equi-width histogram of (quantity band × price band) with
    row/column shares and the lift vs independence n·T/(r·c) — the
    binned dependence heatmap that makes 'big orders are expensive
    orders' (lift ≫ 1 on the diagonal) readable without a model.
    One cell rollup + two broadcast marginals; integer counts →
    exact. Ref: reference binned-profile tests (cf. stats_equidepth
    for the 1-D adaptive cousin, feat_mi_matrix for the one-number
    summary of the same dependence)."""
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.floor((F.col("l_quantity") - 1) / 10).cast("bigint").alias("qb"),
        F.least(F.floor(F.col("l_extendedprice") / 20000), F.lit(4))
        .cast("bigint")
        .alias("pb"),
    )
    cell = b.groupBy("qb", "pb").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    rowm = cell.groupBy("qb").agg(F.sum("n").alias("rn"))
    colm = cell.groupBy("pb").agg(F.sum("n").alias("cn"))
    tot = cell.agg(F.sum("n").alias("t"))
    j = (
        cell.join(F.broadcast(rowm), "qb")
        .join(F.broadcast(colm), "pb")
        .crossJoin(F.broadcast(tot))
    )
    return j.select(
        F.col("qb").alias("qty_band"),
        F.col("pb").alias("price_band"),
        "n",
        F.round(F.col("n").cast("double") / F.col("rn"), 6).alias("row_share"),
        F.round(F.col("n").cast("double") / F.col("cn"), 6).alias("col_share"),
        F.round(
            F.col("n").cast("double") * F.col("t") / (F.col("rn") * F.col("cn")), 6
        ).alias("lift_vs_independence"),
    ).orderBy("qty_band", "price_band")


# --------------------------------------------------------------------------
# Variance-ratio test on daily demand changes
# --------------------------------------------------------------------------
def _vr_oracle_flat() -> str:
    lag_cols = ", ".join(
        f"lag(x, {qq}) OVER (ORDER BY t) AS l{qq}" for qq in [1] + _VR_QS
    )
    var_cols = ", ".join(
        f"sum((x - l{qq}) * (x - l{qq})) FILTER (l{qq} IS NOT NULL)"
        f" / count(*) FILTER (l{qq} IS NOT NULL) AS v{qq}"
        for qq in [1] + _VR_QS
    )
    branches = " UNION ALL ".join(
        f"SELECT {qq} AS q, floor(v{qq} / ({qq} * v1) * 1000000 + 0.5)"
        f" / 1000000 AS variance_ratio FROM v"
        for qq in _VR_QS
    )
    return f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
               AS t,
             CAST(sum(l_quantity) AS DOUBLE) AS x
      FROM lineitem GROUP BY t
    ),
    lags AS (SELECT x, {lag_cols} FROM daily),
    v AS (SELECT {var_cols} FROM lags)
    SELECT q, variance_ratio FROM ({branches}) ORDER BY q
    """


@query("ts_variance_ratio", oracle=_vr_oracle_flat())
def ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay-style variance ratio of daily demand:
    VR(q) = Var(q-day change)/(q·Var(1-day change)) on overlapping
    differences for q ∈ {2,4,8}. A random walk gives VR ≈ 1;
    mean-reverting series (stationary demand around a level) give
    VR < 1 shrinking with q; trending series give VR > 1 — the
    horizon-scan version of stats_durbin_watson's lag-1 answer.
    One |days| rollup + three lag windows; quantized ratios. Ref:
    reference random-walk diagnostics (cf. ts_hurst — VR(q) ≈
    q^{2H−2} links the two)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("t")
    ).agg(F.sum("l_quantity").cast("double").alias("x"))
    wd = W.orderBy("t")
    with_lags = daily.select(
        "x",
        F.lag("x", 1).over(wd).alias("l1"),
        *[F.lag("x", qq).over(wd).alias(f"l{qq}") for qq in _VR_QS],
    )
    v1 = with_lags.filter(F.col("l1").isNotNull()).agg(
        (
            F.sum((F.col("x") - F.col("l1")) * (F.col("x") - F.col("l1")))
            / F.count(F.lit(1))
        ).alias("v1")
    )
    outs = []
    for qq in _VR_QS:
        lq = F.col(f"l{qq}")
        vq = with_lags.filter(lq.isNotNull()).agg(
            (
                F.sum((F.col("x") - lq) * (F.col("x") - lq)) / F.count(F.lit(1))
            ).alias("vq")
        )
        outs.append(
            vq.crossJoin(F.broadcast(v1)).select(
                F.lit(qq).alias("q"),
                (
                    F.floor(
                        (F.col("vq") / (qq * F.col("v1"))) * 1000000.0 + 0.5
                    )
                    / 1000000.0
                ).alias("variance_ratio"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("q")
