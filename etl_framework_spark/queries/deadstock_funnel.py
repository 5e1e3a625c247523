"""Contract keys: ``orders_dead_stock``, ``events_funnel_latency``,
``sales_brand_beta``.

Dead-stock detection, funnel stage latency, and
brand revenue beta.

Reference parity: the reference's inventory-recency audit, its
funnel timing breakdown, and its factor-exposure rollup — re-
expressed as recency rollups with broadcast cutoffs, nested packed-
integer as-of windows, and per-brand covariance against the market.

Scale notes:

- ``orders_dead_stock``: per-part last-ship recency is one rollup;
  the dead/active split is a broadcast-cutoff comparison and the
  writedown exposure is a conditional sum.
- ``events_funnel_latency``: the view→click and click→purchase
  hops reuse the packed t·K+id RANGE-window trick — each stage's
  latency comes from ONE window pass, no self-joins.
- ``sales_brand_beta``: each brand's beta needs only its daily
  series joined to the (broadcast) market series — covariance
  closed forms on the day-keyed rollup.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_DEAD_DAYS = 180
_LOOK_S = 7 * 86400
_PACK = 10000000


# --------------------------------------------------------------------------
# Dead-stock detection: parts with no recent shipments
# --------------------------------------------------------------------------
@query(
    "orders_dead_stock",
    oracle=f"""
    WITH cutoff AS (
      SELECT CAST(max(l_shipdate) AS DATE) AS maxd FROM lineitem
    ),
    per_part AS (
      SELECT l_partkey AS pk,
             max(CAST(l_shipdate AS DATE)) AS last_ship,
             sum(l_extendedprice) AS lifetime_rev,
             CAST(count(*) AS BIGINT) AS n_ships
      FROM lineitem GROUP BY pk
    ),
    lab AS (
      SELECT pk, lifetime_rev, n_ships,
             date_diff('day', last_ship, cutoff.maxd) AS stale_days,
             date_diff('day', last_ship, cutoff.maxd) > {_DEAD_DAYS} AS dead
      FROM per_part, cutoff
    )
    SELECT CAST(count(*) AS BIGINT) AS n_parts,
           CAST(count(*) FILTER (dead) AS BIGINT) AS n_dead,
           round(CAST(count(*) FILTER (dead) AS DOUBLE) / count(*), 6)
             AS dead_share,
           round(sum(CASE WHEN dead THEN lifetime_rev ELSE 0 END), 2)
             AS dead_lifetime_rev,
           CAST(max(CASE WHEN dead THEN stale_days END) AS BIGINT)
             AS max_stale_days,
           round(avg(CASE WHEN dead THEN CAST(n_ships AS DOUBLE) END), 6)
             AS avg_ships_of_dead
    FROM lab
    """,
)
def orders_dead_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-stock screen: parts with NO shipment in the trailing 180
    days of the data window — how many, their share of the catalog,
    the lifetime revenue now at writedown risk, and how stale the
    worst offender is. One per-part recency rollup + a broadcast
    cutoff; the report is the inventory review's opening slide. Ref:
    reference inventory-audit tests (cf. orders_backlog_aging,
    orders_abc_xyz)."""
    li = table(spark, sf_dir, "lineitem")
    cutoff = li.agg(F.max(F.col("l_shipdate").cast("date")).alias("maxd"))
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.max(F.col("l_shipdate").cast("date")).alias("last_ship"),
        F.sum("l_extendedprice").alias("lifetime_rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_ships"),
    )
    lab = per_part.crossJoin(F.broadcast(cutoff)).select(
        "lifetime_rev",
        "n_ships",
        F.datediff(F.col("maxd"), F.col("last_ship")).alias("stale_days"),
        (F.datediff(F.col("maxd"), F.col("last_ship")) > _DEAD_DAYS).alias(
            "dead"
        ),
    )
    return lab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.count(F.when(F.col("dead"), 1)).cast("bigint").alias("n_dead"),
        F.round(
            F.count(F.when(F.col("dead"), 1)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("dead_share"),
        F.round(
            F.sum(F.when(F.col("dead"), F.col("lifetime_rev")).otherwise(0)), 2
        ).alias("dead_lifetime_rev"),
        F.max(F.when(F.col("dead"), F.col("stale_days")))
        .cast("bigint")
        .alias("max_stale_days"),
        F.round(
            F.avg(F.when(F.col("dead"), F.col("n_ships").cast("double"))), 6
        ).alias("avg_ships_of_dead"),
    )


# --------------------------------------------------------------------------
# Funnel stage latency: view→click and click→purchase hop times
# --------------------------------------------------------------------------
@query(
    "events_funnel_latency",
    oracle=f"""
    WITH seq AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    hops AS (
      SELECT event_type, t,
             max(CASE WHEN event_type = 'view'
                      THEN t * {_PACK} + event_id END)
               OVER w AS prev_view,
             max(CASE WHEN event_type = 'click'
                      THEN t * {_PACK} + event_id END)
               OVER w AS prev_click
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY t
                   RANGE BETWEEN {_LOOK_S} PRECEDING AND 1 PRECEDING)
    ),
    lat AS (
      SELECT 'view_to_click' AS stage,
             CAST(t - floor(prev_view / {_PACK}) AS DOUBLE) AS lat_s
      FROM hops WHERE event_type = 'click' AND prev_view IS NOT NULL
      UNION ALL
      SELECT 'click_to_purchase',
             CAST(t - floor(prev_click / {_PACK}) AS DOUBLE)
      FROM hops WHERE event_type = 'purchase' AND prev_click IS NOT NULL
    )
    SELECT stage,
           CAST(count(*) AS BIGINT) AS n_hops,
           round(quantile_cont(lat_s, 0.5), 6) AS median_s,
           round(quantile_cont(lat_s, 0.9), 6) AS p90_s
    FROM lat GROUP BY stage
    """,
)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel stage latency: for every click, seconds since the same
    user's most recent view (≤7 d); for every purchase, seconds
    since their most recent click — median and p90 per hop, the
    timing breakdown that says WHERE the funnel drags, not just
    where it leaks (funnel counts that). Each hop is one packed
    t·K+id RANGE-window lookup — no self-joins, and the integer
    division recovers the predecessor's timestamp exactly. Ref:
    reference funnel-timing tests (cf. events_time_to_convert,
    events_attribution_compare)."""
    ev = table(spark, sf_dir, "events")
    seq = ev.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("t"),
    )
    wr = W.partitionBy("user_id").orderBy("t").rangeBetween(-_LOOK_S, -1)
    packed = lambda typ: F.when(
        F.col("event_type") == typ, F.col("t") * _PACK + F.col("event_id")
    )
    hops = seq.select(
        "event_type",
        "t",
        F.max(packed("view")).over(wr).alias("prev_view"),
        F.max(packed("click")).over(wr).alias("prev_click"),
    )
    v2c = hops.filter(
        (F.col("event_type") == "click") & F.col("prev_view").isNotNull()
    ).select(
        F.lit("view_to_click").alias("stage"),
        (F.col("t") - F.floor(F.col("prev_view") / _PACK))
        .cast("double")
        .alias("lat_s"),
    )
    c2p = hops.filter(
        (F.col("event_type") == "purchase") & F.col("prev_click").isNotNull()
    ).select(
        F.lit("click_to_purchase").alias("stage"),
        (F.col("t") - F.floor(F.col("prev_click") / _PACK))
        .cast("double")
        .alias("lat_s"),
    )
    lat = v2c.unionAll(c2p)
    return lat.groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hops"),
        F.round(F.percentile("lat_s", 0.5), 6).alias("median_s"),
        F.round(F.percentile("lat_s", 0.9), 6).alias("p90_s"),
    )


# --------------------------------------------------------------------------
# Brand revenue beta against the market
# --------------------------------------------------------------------------
@query(
    "sales_brand_beta",
    oracle="""
    WITH daily AS (
      SELECT p.p_brand AS brand, date_trunc('day', l.l_shipdate) AS day,
             sum(l.l_extendedprice) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY brand, day
    ),
    mkt AS (SELECT day, sum(rev) AS mrev FROM daily GROUP BY day),
    j AS (
      SELECT daily.brand, daily.rev AS x, mkt.mrev AS m
      FROM daily JOIN mkt ON daily.day = mkt.day
    ),
    s AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS n_days,
             avg(x) AS mx, avg(m) AS mm,
             avg(x * m) AS mxm, avg(m * m) AS mmm, avg(x * x) AS mxx
      FROM j GROUP BY brand
    )
    SELECT brand, n_days,
           round((mxm - mx * mm) / (mmm - mm * mm), 6) AS beta,
           round((mxm - mx * mm) * (mxm - mx * mm)
                 / ((mmm - mm * mm) * (mxx - mx * mx)), 6)
             AS r2_systematic
    FROM s
    """,
)
def sales_brand_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each brand's revenue BETA against the whole market's daily
    revenue — cov(brand, market)/var(market), finance's systematic-
    exposure measure applied to merchandising: beta > 1 brands
    amplify market swings, beta ≈ 0 brands are defensive, and
    r²_systematic says how much of the brand's variance the market
    explains at all (the rest is brand-idiosyncratic). The market
    series is a re-aggregation of the same daily rollup joined back
    by day; betas are moment closed forms. Ref: reference
    factor-exposure tests (cf. sales_cannibalization,
    stats_partial_corr)."""
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part")
    daily = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("day", F.col("l_shipdate")).alias("day"),
        )
        .agg(F.sum("l_extendedprice").alias("rev"))
        # lazy localCheckpoint: the daily brand rollup feeds the market
        # re-aggregation AND the beta join — unmaterialized, both
        # replayed the lineitem ⋈ part join (8 scans in the golden
        # plan). Same fix as sales_cannibalization this round.
    ).localCheckpoint(eager=False)
    mkt = daily.groupBy("day").agg(F.sum("rev").alias("mrev"))
    j = daily.join(mkt, "day").select(
        "brand", F.col("rev").alias("x"), F.col("mrev").alias("m")
    )
    s = j.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.avg("x").alias("mx"),
        F.avg("m").alias("mm"),
        F.avg(F.col("x") * F.col("m")).alias("mxm"),
        F.avg(F.col("m") * F.col("m")).alias("mmm"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
    )
    cov = F.col("mxm") - F.col("mx") * F.col("mm")
    varm = F.col("mmm") - F.col("mm") * F.col("mm")
    varx = F.col("mxx") - F.col("mx") * F.col("mx")
    return s.select(
        "brand",
        "n_days",
        F.round(cov / varm, 6).alias("beta"),
        F.round(cov * cov / (varm * varx), 6).alias("r2_systematic"),
    )
