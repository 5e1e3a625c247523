"""Contract keys: ``stats_ridit``, ``events_conversion_window_sweep``,
``stats_seasonal_mann_kendall``.

Ridit analysis, conversion-window sweep, and
seasonal Mann-Kendall.

Reference parity: the reference's ordinal-outcome comparison, its
attribution-window sensitivity report, and its deseasonalized trend
test — re-expressed as cumulative-count ridits, one 24h pair table
filtered per window, and per-month S statistics summed.

Scale notes:

- ``stats_ridit``: ridits come from the ordered category rollup
  (≤5 rows); group mean ridits from one conditional rollup.
- ``events_conversion_window_sweep``: ONE bucketed pair join at the
  largest window; smaller windows are conditional counts over it.
- ``stats_seasonal_mann_kendall``: S_m per month is a pair join
  within month-of-year groups over the |months| rollup (bounded:
  ~7 years → ≤21 pairs per month-of-year).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_WINDOWS_S = [900, 3600, 21600, 86400]


# --------------------------------------------------------------------------
# Ridit analysis: priority distribution of big vs small orders
# --------------------------------------------------------------------------
@query(
    "stats_ridit",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS cat,
             CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS grp
      FROM orders
    ),
    ref AS (
      SELECT cat, CAST(count(*) AS DOUBLE) AS n,
             sum(count(*)) OVER (ORDER BY cat) AS cum
      FROM base GROUP BY cat
    ),
    rid AS (
      SELECT cat, n, (cum - n / 2.0) / (SELECT sum(n) FROM ref) AS ridit
      FROM ref
    ),
    g AS (
      SELECT b.grp, CAST(count(*) AS DOUBLE) AS ng,
             sum(r.ridit) AS sr
      FROM base b JOIN rid r ON b.cat = r.cat
      GROUP BY b.grp
    ),
    wide AS (
      SELECT max(CASE WHEN grp = 1 THEN ng END) AS n1,
             max(CASE WHEN grp = 1 THEN sr / ng END) AS r1,
             max(CASE WHEN grp = 0 THEN ng END) AS n0,
             max(CASE WHEN grp = 0 THEN sr / ng END) AS r0
      FROM g
    )
    SELECT CAST(n1 AS BIGINT) AS n_big, CAST(n0 AS BIGINT) AS n_small,
           round(r1, 6) AS mean_ridit_big,
           round(r0, 6) AS mean_ridit_small,
           round(r1 - r0, 6) AS ridit_shift,
           round((r1 - 0.5) / sqrt(1.0 / (12.0 * n1)), 6) AS ridit_z_big
    FROM wide
    """,
)
def stats_ridit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridit analysis of order priority (an ORDINAL scale) between
    big (>$150k) and small orders: each category's ridit is the
    midpoint of its cumulative share in the REFERENCE (whole)
    population; a group's mean ridit is the probability a random
    member outranks a random reference member. mean ridit ≈ 0.5 =
    no ordinal shift — the analysis that respects category ORDER
    where chi-square throws it away. Category rollup (≤5 rows) +
    one conditional rollup; integer counts → exact. Ref: reference
    ordinal-outcome tests (cf. stats_cochran_armitage for the
    trend-in-proportions twin, stats_mannwhitney for continuous)."""
    od = table(spark, sf_dir, "orders")
    base = od.select(
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("grp"),
    )
    ref = base.groupBy("cat").agg(F.count(F.lit(1)).cast("double").alias("n"))
    ref = ref.withColumn("cum", F.sum("n").over(W.orderBy("cat")))
    tot = ref.agg(F.sum("n").alias("t"))
    rid = ref.crossJoin(F.broadcast(tot)).select(
        "cat", ((F.col("cum") - F.col("n") / 2.0) / F.col("t")).alias("ridit")
    )
    g = (
        base.join(F.broadcast(rid), "cat")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("double").alias("ng"),
            F.sum("ridit").alias("sr"),
        )
    )
    wide = g.agg(
        F.max(F.when(F.col("grp") == 1, F.col("ng"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("sr") / F.col("ng"))).alias("r1"),
        F.max(F.when(F.col("grp") == 0, F.col("ng"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("sr") / F.col("ng"))).alias("r0"),
    )
    return wide.select(
        F.col("n1").cast("bigint").alias("n_big"),
        F.col("n0").cast("bigint").alias("n_small"),
        F.round("r1", 6).alias("mean_ridit_big"),
        F.round("r0", 6).alias("mean_ridit_small"),
        F.round(F.col("r1") - F.col("r0"), 6).alias("ridit_shift"),
        F.round(
            (F.col("r1") - 0.5) / F.sqrt(1.0 / (12.0 * F.col("n1"))), 6
        ).alias("ridit_z_big"),
    )


# --------------------------------------------------------------------------
# Conversion-window sensitivity: assisted share vs lookback window
# --------------------------------------------------------------------------
@query(
    "events_conversion_window_sweep",
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
    pb AS (SELECT event_id, user_id, t, t // 86400 AS b FROM p),
    cb AS (
      SELECT user_id, t, unnest([t // 86400, t // 86400 + 1]) AS b
      FROM c
    ),
    gaps AS (
      SELECT pb.event_id, min(pb.t - cb.t) AS best_gap
      FROM pb JOIN cb ON pb.user_id = cb.user_id AND pb.b = cb.b
      WHERE cb.t < pb.t AND cb.t >= pb.t - 86400
      GROUP BY pb.event_id
    ),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS np FROM p),
    win AS (SELECT unnest([{", ".join(str(w) for w in _WINDOWS_S)}])
              AS window_s)
    SELECT w.window_s,
           CAST(count(g.event_id) AS BIGINT) AS assisted_purchases,
           round(count(g.event_id) / tot.np, 6) AS assisted_share
    FROM win w
    LEFT JOIN gaps g ON g.best_gap <= w.window_s
    CROSS JOIN tot
    GROUP BY w.window_s, tot.np ORDER BY w.window_s
    """,
)
def events_conversion_window_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Attribution-window sensitivity: the share of purchases with a
    prior same-user click within 15 min / 1 h / 6 h / 24 h. The
    curve IS the attribution-policy decision — a share that keeps
    climbing to 24 h says the short window undercredits; a flat
    curve says clicks either convert fast or never. ONE day-bucketed
    pair join at the 24 h ceiling produces each purchase's best
    (smallest) gap; every window is then a conditional count — no
    per-window joins. Integer epoch seconds → exact. Ref: reference
    attribution-sensitivity tests (cf. join_semi_window for one
    fixed window, events_attribution_compare for model choice)."""
    ev = table(spark, sf_dir, "events")
    tsec = F.unix_timestamp(F.date_trunc("second", F.col("ts"))).cast("bigint")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", tsec.alias("t")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", tsec.alias("ct")
    )
    pb = p.select(
        "event_id", "user_id", "t", F.floor(F.col("t") / 86400).alias("b")
    )
    cb = c.select(
        "user_id",
        "ct",
        F.explode(
            F.array(
                F.floor(F.col("ct") / 86400), F.floor(F.col("ct") / 86400) + 1
            )
        ).alias("b"),
    )
    gaps = (
        pb.join(cb, ["user_id", "b"])
        .filter(
            (F.col("ct") < F.col("t")) & (F.col("ct") >= F.col("t") - 86400)
        )
        .groupBy("event_id")
        .agg(F.min(F.col("t") - F.col("ct")).alias("best_gap"))
    )
    tot = p.agg(F.count(F.lit(1)).cast("double").alias("np"))
    win = spark.range(len(_WINDOWS_S)).select(
        F.element_at(
            F.array(*[F.lit(w) for w in _WINDOWS_S]), (F.col("id") + 1).cast("int")
        ).alias("window_s")
    )
    j = (
        win.join(gaps, F.col("best_gap") <= F.col("window_s"), "left")
        .groupBy("window_s")
        .agg(F.count("event_id").cast("bigint").alias("assisted_purchases"))
        .crossJoin(F.broadcast(tot))
    )
    return j.select(
        "window_s",
        "assisted_purchases",
        F.round(F.col("assisted_purchases") / F.col("np"), 6).alias(
            "assisted_share"
        ),
    ).orderBy("window_s")


# --------------------------------------------------------------------------
# Seasonal Mann-Kendall trend test on monthly demand
# --------------------------------------------------------------------------
@query(
    "stats_seasonal_mann_kendall",
    oracle="""
    WITH monthly AS (
      SELECT CAST(substr(CAST(l_shipdate AS VARCHAR), 1, 4) AS INT) AS yr,
             CAST(substr(CAST(l_shipdate AS VARCHAR), 6, 2) AS INT) AS mo,
             sum(l_quantity) AS x
      FROM lineitem GROUP BY yr, mo
    ),
    pairs AS (
      SELECT a.mo,
             CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1
                  ELSE 0 END AS sgn
      FROM monthly a JOIN monthly b
        ON a.mo = b.mo AND b.yr > a.yr
    ),
    per_season AS (
      SELECT mo, CAST(sum(sgn) AS DOUBLE) AS s,
             CAST(count(*) AS DOUBLE) AS n_pairs
      FROM pairs GROUP BY mo
    ),
    sizes AS (
      SELECT mo, CAST(count(*) AS DOUBLE) AS n FROM monthly GROUP BY mo
    ),
    tot AS (
      SELECT sum(p.s) AS s_total,
             sum(z.n * (z.n - 1) * (2 * z.n + 5) / 18.0) AS var_s,
             CAST(count(*) AS BIGINT) AS n_seasons
      FROM per_season p JOIN sizes z ON p.mo = z.mo
    )
    SELECT n_seasons,
           CAST(s_total AS BIGINT) AS s_total,
           round(var_s, 6) AS var_s,
           round((s_total - CASE WHEN s_total > 0 THEN 1
                                 WHEN s_total < 0 THEN -1 ELSE 0 END)
                 / sqrt(var_s), 6) AS smk_z
    FROM tot
    """,
)
def stats_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test on monthly demand: the MK S
    statistic computed WITHIN each month-of-year (January-to-January
    comparisons only — seasonality can't masquerade as trend), then
    summed with the variance Σn(n−1)(2n+5)/18 and the continuity
    correction. THE standard monotone-trend test for seasonal
    series (hydrology's workhorse). Pair joins are within 12 small
    groups over the |months| rollup — bounded at any scale. Integer
    sums → exact. Ref: reference trend tests (cf. stats_mannkendall
    for the unseasonal form, ts_sen_slope for the magnitude)."""
    li = table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.year(F.col("l_shipdate").cast("date")).alias("yr"),
        F.month(F.col("l_shipdate").cast("date")).alias("mo"),
    ).agg(F.sum("l_quantity").alias("x"))
    a = monthly.select(
        F.col("mo"), F.col("yr").alias("ya"), F.col("x").alias("xa")
    )
    b = monthly.select(
        F.col("mo"), F.col("yr").alias("yb"), F.col("x").alias("xb")
    )
    pairs = a.join(b, "mo").filter(F.col("yb") > F.col("ya")).select(
        "mo",
        F.when(F.col("xb") > F.col("xa"), 1)
        .when(F.col("xb") < F.col("xa"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    per_season = pairs.groupBy("mo").agg(
        F.sum("sgn").cast("double").alias("s")
    )
    sizes = monthly.groupBy("mo").agg(F.count(F.lit(1)).cast("double").alias("n"))
    tot = per_season.join(sizes, "mo").agg(
        F.sum("s").alias("s_total"),
        F.sum(F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) / 18.0).alias(
            "var_s"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_seasons"),
    )
    s = F.col("s_total")
    cc = F.when(s > 0, 1.0).when(s < 0, -1.0).otherwise(0.0)
    return tot.select(
        "n_seasons",
        s.cast("bigint").alias("s_total"),
        F.round("var_s", 6).alias("var_s"),
        F.round((s - cc) / F.sqrt(F.col("var_s")), 6).alias("smk_z"),
    )
