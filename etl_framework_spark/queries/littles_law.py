"""Contract keys: ``orders_little_law``, ``sales_assortment_jaccard``,
``stats_cochran_q``.

Little's law audit, assortment overlap, and
Cochran's Q.

Reference parity: the reference's ops-analytics and repeated-
measures tests — queueing consistency (L = λW), catalog overlap
between suppliers, and the k-treatment binary test — re-expressed
as cumulative windows, a degree-bounded wedge join, and per-order
conditional sums.

Scale notes:

- ``orders_little_law``: WIP-by-day is (cumulative arrivals −
  cumulative completions) on the |days| grid — no interval join.
- ``sales_assortment_jaccard``: the wedge join is on the part key
  (bounded fan-out per part); supplier part-set sizes come from one
  rollup, and the pair table is |supplier-pairs|-sized.
- ``stats_cochran_q``: the per-order (b₁,b₂,b₃) triple collapses via
  one pivot-style conditional aggregation; Q is a closed form over
  four scalar sums.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked
from etl_framework_spark.operators.rounding import q6

_Q_THRESH = 25  # quantity threshold for the binary response
_AJ_TOP = 10
_AJ_MIN_PARTS = 5


# --------------------------------------------------------------------------
# Little's law: does avg WIP equal arrival rate x avg flow time?
# --------------------------------------------------------------------------
@query(
    "orders_little_law",
    oracle="""
    WITH life AS (
      SELECT o.o_orderkey AS ok, CAST(o.o_orderdate AS DATE) AS arr,
             CAST(max(l.l_shipdate) AS DATE) AS done
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY ok, arr
    ),
    arrivals AS (
      SELECT arr AS day, CAST(count(*) AS BIGINT) AS a FROM life
      GROUP BY day
    ),
    completions AS (
      SELECT done AS day, CAST(count(*) AS BIGINT) AS c FROM life
      GROUP BY day
    ),
    days AS (
      SELECT coalesce(a.day, c.day) AS day,
             coalesce(a.a, 0) AS a, coalesce(c.c, 0) AS c
      FROM arrivals a FULL OUTER JOIN completions c ON a.day = c.day
    ),
    wip AS (
      SELECT day,
             sum(a) OVER (ORDER BY day) - sum(c) OVER (ORDER BY day) AS l
      FROM days
    ),
    s AS (
      SELECT (SELECT CAST(count(*) AS DOUBLE) FROM life) AS n_orders,
             (SELECT avg(CAST(l AS DOUBLE)) FROM wip) AS avg_wip,
             (SELECT CAST(count(*) AS DOUBLE) FROM wip) AS n_days,
             (SELECT avg(CAST(date_diff('day', arr, done) AS DOUBLE))
              FROM life) AS avg_flow_d
    )
    SELECT CAST(n_orders AS BIGINT) AS n_orders,
           CAST(n_days AS BIGINT) AS n_days,
           floor(n_orders / n_days * 1000000 + 0.5) / 1000000 AS lambda_per_d,
           floor(avg_flow_d * 1000000 + 0.5) / 1000000 AS avg_flow_d,
           floor(avg_wip * 1000000 + 0.5) / 1000000 AS avg_wip,
           floor(avg_wip / (n_orders / n_days * avg_flow_d)
                 * 1000000 + 0.5) / 1000000 AS little_ratio
    FROM s
    """,
)
def orders_little_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law audit of the order pipeline: average
    work-in-progress (orders arrived but not fully shipped, from the
    daily cumulative arrivals−completions curve) versus λ·W (arrival
    rate × average flow time). little_ratio ≈ 1 certifies that the
    three independently-computed KPIs are mutually consistent — the
    cheapest full-pipeline instrumentation sanity check there is.
    WIP needs no interval join: one full-outer day grid + two
    cumulative windows over |days| rows. Ref: reference
    queueing-analytics tests (cf. orders_backlog_aging,
    events_concurrency)."""
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    life = (
        od.join(li, od.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_orderkey").alias("ok"),
            F.col("o_orderdate").cast("date").alias("arr"),
        )
        .agg(F.max(F.col("l_shipdate")).cast("date").alias("done"))
        # lazy localCheckpoint: the order-lifetime rollup is the only
        # corpus-sized stage and is referenced by arrivals, completions
        # AND the flow-time agg — unmaterialized, each reference
        # replayed the orders ⋈ lineitem join (12 scans in the golden
        # plan). One narrow row per order. a plain persist LOST the
        # alternating A/B (1.14 -> 1.77 s); the lazy checkpoint won it.
    ).localCheckpoint(eager=False)
    arrivals = life.groupBy(F.col("arr").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    completions = life.groupBy(F.col("done").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    days = (
        arrivals.join(completions, "day", "full")
        .select(
            "day",
            F.coalesce(F.col("a"), F.lit(0)).alias("a"),
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    wd = W.orderBy("day")
    wip = days.select(
        "day", (F.sum("a").over(wd) - F.sum("c").over(wd)).alias("l")
    )
    sw = wip.agg(
        F.avg(F.col("l").cast("double")).alias("avg_wip"),
        F.count(F.lit(1)).cast("double").alias("n_days"),
    )
    sl = life.agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.avg(F.datediff(F.col("done"), F.col("arr")).cast("double")).alias(
            "avg_flow_d"
        ),
    )
    s = sl.crossJoin(F.broadcast(sw))
    lam = F.col("n_orders") / F.col("n_days")
    return s.select(
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("n_days").cast("bigint").alias("n_days"),
        q6(lam).alias("lambda_per_d"),
        q6(F.col("avg_flow_d")).alias("avg_flow_d"),
        q6(F.col("avg_wip")).alias("avg_wip"),
        q6(F.col("avg_wip") / (lam * F.col("avg_flow_d"))).alias("little_ratio"),
    )


# --------------------------------------------------------------------------
# Assortment overlap: supplier pairs with the most-similar part sets
# --------------------------------------------------------------------------
@query(
    "sales_assortment_jaccard",
    oracle=f"""
    WITH sp AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    sz AS (SELECT s, CAST(count(*) AS BIGINT) AS n_parts FROM sp GROUP BY s),
    wedge AS (
      SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS common
      FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
      GROUP BY s1, s2
    ),
    scored AS (
      SELECT w.s1, w.s2, w.common, za.n_parts AS n1, zb.n_parts AS n2,
             round(CAST(w.common AS DOUBLE)
                   / (za.n_parts + zb.n_parts - w.common), 6) AS jaccard
      FROM wedge w
      JOIN sz za ON za.s = w.s1 JOIN sz zb ON zb.s = w.s2
      WHERE za.n_parts >= {_AJ_MIN_PARTS} AND zb.n_parts >= {_AJ_MIN_PARTS}
    )
    SELECT s1 AS suppkey_1, s2 AS suppkey_2, common AS common_parts,
           n1 AS parts_1, n2 AS parts_2, jaccard
    FROM scored ORDER BY jaccard DESC, s1, s2 LIMIT {_AJ_TOP}
    """,
)
def sales_assortment_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assortment overlap between suppliers: Jaccard similarity of
    their shipped part sets, top-10 most-substitutable pairs (with
    min-support gating). The sourcing view behind 'if supplier A
    fails, who already carries their catalog' — the set-similarity
    twin of dq_single_source_parts' count view. The quadratic step
    is a wedge join keyed on the PART (bounded fan-out per part),
    never supplier × supplier; integer counts → exact Jaccard. Ref:
    reference assortment tests (cf. events_audience_overlap for the
    user-set analogue)."""
    li = table(spark, sf_dir, "lineitem")
    # persist: the size rollup and both wedge-join sides consume this
    # frame — without a cache the lineitem scan + distinct shuffle run
    # three times (r10). One row per (supplier, part).
    sp = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct().transform(persist_tracked)
    sz = sp.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    a = sp.select(F.col("s").alias("s1"), "p")
    b = sp.select(F.col("s").alias("s2"), "p")
    wedge = (
        a.join(b, "p")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    za = sz.select(F.col("s").alias("s1"), F.col("n_parts").alias("n1"))
    zb = sz.select(F.col("s").alias("s2"), F.col("n_parts").alias("n2"))
    scored = (
        wedge.join(F.broadcast(za), "s1")
        .join(F.broadcast(zb), "s2")
        .filter((F.col("n1") >= _AJ_MIN_PARTS) & (F.col("n2") >= _AJ_MIN_PARTS))
        .select(
            F.col("s1").alias("suppkey_1"),
            F.col("s2").alias("suppkey_2"),
            F.col("common").alias("common_parts"),
            F.col("n1").alias("parts_1"),
            F.col("n2").alias("parts_2"),
            F.round(
                F.col("common").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"), "suppkey_1", "suppkey_2"
    ).limit(_AJ_TOP)


# --------------------------------------------------------------------------
# Cochran's Q: equal over-threshold rates across line positions 1..3?
# --------------------------------------------------------------------------
@query(
    "stats_cochran_q",
    oracle=f"""
    WITH tri AS (
      SELECT l_orderkey AS ok,
             max(CASE WHEN l_linenumber = 1 AND l_quantity > {_Q_THRESH}
                      THEN 1 ELSE 0 END) AS b1,
             max(CASE WHEN l_linenumber = 2 AND l_quantity > {_Q_THRESH}
                      THEN 1 ELSE 0 END) AS b2,
             max(CASE WHEN l_linenumber = 3 AND l_quantity > {_Q_THRESH}
                      THEN 1 ELSE 0 END) AS b3,
             CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem WHERE l_linenumber <= 3
      GROUP BY ok HAVING count(*) = 3
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(CAST(b1 AS DOUBLE)) AS c1,
             sum(CAST(b2 AS DOUBLE)) AS c2,
             sum(CAST(b3 AS DOUBLE)) AS c3,
             sum(CAST(b1 + b2 + b3 AS DOUBLE)) AS tsum,
             sum(CAST((b1 + b2 + b3) * (b1 + b2 + b3) AS DOUBLE)) AS tsq
      FROM tri
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           round(c1 / n, 6) AS rate_pos1,
           round(c2 / n, 6) AS rate_pos2,
           round(c3 / n, 6) AS rate_pos3,
           round(2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - tsum * tsum)
                 / (3 * tsum - tsq), 6) AS cochran_q,
           CAST(2 AS BIGINT) AS df
    FROM s
    """,
)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test on orders with exactly three lines: is the
    over-25-quantity rate the same at line positions 1, 2 and 3?
    Q = k(k−1)(ΣC_j² − T²/k)·k/(kT − ΣT_i²) — the k-treatment
    generalization of McNemar over matched binary responses (the
    order is its own control). One conditional pivot per order +
    four scalar sums; integer counts → bit-exact. Ref: reference
    repeated-measures tests (cf. stats_mcnemar for k=2,
    stats_kruskal_wallis for the continuous response)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 3)
    flag = lambda pos: F.max(
        F.when(
            (F.col("l_linenumber") == pos) & (F.col("l_quantity") > _Q_THRESH), 1
        ).otherwise(0)
    )
    tri = (
        li.groupBy(F.col("l_orderkey").alias("ok"))
        .agg(
            flag(1).alias("b1"),
            flag(2).alias("b2"),
            flag(3).alias("b3"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .filter(F.col("n_lines") == 3)
    )
    t = F.col("b1") + F.col("b2") + F.col("b3")
    s = tri.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("b1").cast("double")).alias("c1"),
        F.sum(F.col("b2").cast("double")).alias("c2"),
        F.sum(F.col("b3").cast("double")).alias("c3"),
        F.sum(t.cast("double")).alias("tsum"),
        F.sum((t * t).cast("double")).alias("tsq"),
    )
    qstat = (
        2
        * (
            3 * (F.col("c1") * F.col("c1") + F.col("c2") * F.col("c2") + F.col("c3") * F.col("c3"))
            - F.col("tsum") * F.col("tsum")
        )
        / (3 * F.col("tsum") - F.col("tsq"))
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.round(F.col("c1") / F.col("n"), 6).alias("rate_pos1"),
        F.round(F.col("c2") / F.col("n"), 6).alias("rate_pos2"),
        F.round(F.col("c3") / F.col("n"), 6).alias("rate_pos3"),
        F.round(qstat, 6).alias("cochran_q"),
        F.lit(2).cast("bigint").alias("df"),
    )
