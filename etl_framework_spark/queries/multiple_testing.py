"""Contract keys: ``stats_fdr_bh``, ``stats_kendall_tau``,
``stats_trimmed_mean``.

Multiple-testing control, rank correlation, and
robust means.

Reference parity: the reference's stats/test-suite queries
(analytic t/z tests, rank statistics, robust aggregates) — re-expressed
as single-pass conditional aggregations + tiny-rollup closed forms.

Scale notes:

- ``stats_fdr_bh``: the per-brand test table is ONE partial-agg
  shuffle over the fact join; the Benjamini-Hochberg step then runs
  on a |brands|-sized rollup (two window passes over ~25 rows —
  driver-trivial). At 100 TB only the first agg grows.
- ``stats_kendall_tau``: pair counting is O(k²) but k = |nations| =
  25 — the cross join is on the ROLLUP, never the fact table. The
  fact-side cost is two aggregations that AQE broadcasts.
- ``stats_trimmed_mean``: exact order statistics need a per-group
  sort (window rank). Three groups → three sort partitions; at
  100 TB swap in approx_percentile bounds (see agg_quantile_approx)
  and keep the same clamp+avg shape.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_ALPHA = 0.10  # BH false-discovery-rate budget
_TRIM = 0.1  # two-sided trim fraction


# --------------------------------------------------------------------------
# Benjamini-Hochberg FDR across per-brand return-rate tests
# --------------------------------------------------------------------------
@query(
    "stats_fdr_bh",
    oracle=f"""
    WITH j AS (
      SELECT p.p_brand AS brand,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(count(*) FILTER (l.l_returnflag = 'R') AS DOUBLE) AS x
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    ),
    g AS (SELECT *, sum(x) OVER () / sum(n) OVER () AS p0 FROM j),
    z AS (
      SELECT brand, n, x, p0,
             (x / n - p0) / sqrt(p0 * (1 - p0) / n) AS zstat
      FROM g
    ),
    p AS (
      SELECT *,
             2.0 / (1.0 + exp(1.702 * abs(zstat))) AS pval,
             count(*) OVER () AS m
      FROM z
    ),
    r AS (
      SELECT *,
             row_number() OVER (ORDER BY pval, brand) AS rk
      FROM p
    ),
    k AS (
      SELECT *,
             max(CASE WHEN pval <= rk * {_ALPHA} / m THEN rk ELSE 0 END)
               OVER () AS kstar
      FROM r
    )
    SELECT brand,
           CAST(n AS BIGINT) AS n_items,
           round(x / n, 6) AS return_rate,
           round(zstat, 6) AS z_stat,
           round(pval, 6) AS p_value,
           CAST(rk AS BIGINT) AS p_rank,
           rk <= kstar AS rejected
    FROM k
    """,
)
def stats_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over ~25 simultaneous per-brand
    return-rate tests: one-sample proportion z vs the pooled rate,
    p-values via the logistic approximation to the normal CDF
    (2/(1+exp(1.702|z|)) — identical closed form on both engines),
    then the BH step-up rule: reject the k* smallest p-values where
    k* is the largest rank with p_(k) <= k·α/m. Everything after the
    single fact-join aggregation runs on the brand rollup (two
    global windows over ~25 rows). Ref: reference stats suite's
    multiple-comparison tests."""
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part")
    j = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.count(F.when(F.col("l_returnflag") == "R", 1))
            .cast("double")
            .alias("x"),
        )
    )
    wall = W.partitionBy()
    g = j.withColumn("p0", F.sum("x").over(wall) / F.sum("n").over(wall))
    z = g.withColumn(
        "zstat",
        (F.col("x") / F.col("n") - F.col("p0"))
        / F.sqrt(F.col("p0") * (1 - F.col("p0")) / F.col("n")),
    )
    p = z.withColumn(
        "pval", 2.0 / (1.0 + F.exp(1.702 * F.abs(F.col("zstat"))))
    ).withColumn("m", F.count(F.lit(1)).over(wall))
    r = p.withColumn(
        "rk", F.row_number().over(W.partitionBy().orderBy("pval", "brand"))
    )
    k = r.withColumn(
        "kstar",
        F.max(
            F.when(
                F.col("pval") <= F.col("rk") * _ALPHA / F.col("m"), F.col("rk")
            ).otherwise(F.lit(0))
        ).over(wall),
    )
    return k.select(
        "brand",
        F.col("n").cast("bigint").alias("n_items"),
        F.round(F.col("x") / F.col("n"), 6).alias("return_rate"),
        F.round("zstat", 6).alias("z_stat"),
        F.round("pval", 6).alias("p_value"),
        F.col("rk").cast("bigint").alias("p_rank"),
        (F.col("rk") <= F.col("kstar")).alias("rejected"),
    )


# --------------------------------------------------------------------------
# Kendall tau-b between two per-nation aggregates
# --------------------------------------------------------------------------
@query(
    "stats_kendall_tau",
    oracle="""
    WITH cb AS (
      SELECT c_nationkey AS nk, avg(c_acctbal) AS bal
      FROM customer GROUP BY c_nationkey
    ),
    op AS (
      SELECT c.c_nationkey AS nk, avg(o.o_totalprice) AS price
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
    ),
    pts AS (SELECT cb.nk, cb.bal, op.price FROM cb JOIN op ON cb.nk = op.nk),
    pr AS (
      SELECT a.bal AS xa, a.price AS ya, b.bal AS xb, b.price AS yb
      FROM pts a JOIN pts b ON a.nk < b.nk
    ),
    cnt AS (
      SELECT
        CAST(count(*) AS BIGINT) AS n0,
        CAST(count(*) FILTER ((xa - xb) * (ya - yb) > 0) AS BIGINT) AS conc,
        CAST(count(*) FILTER ((xa - xb) * (ya - yb) < 0) AS BIGINT) AS disc,
        CAST(count(*) FILTER (xa = xb AND ya <> yb) AS BIGINT) AS tie_x,
        CAST(count(*) FILTER (ya = yb AND xa <> xb) AS BIGINT) AS tie_y,
        CAST(count(*) FILTER (xa = xb AND ya = yb) AS BIGINT) AS tie_xy
      FROM pr
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM pts) AS n_points,
           n0 AS n_pairs, conc AS concordant, disc AS discordant,
           tie_x AS ties_x, tie_y AS ties_y,
           round((conc - disc)
                 / sqrt(CAST((n0 - tie_x - tie_xy) AS DOUBLE)
                        * (n0 - tie_y - tie_xy)), 6) AS tau_b
    FROM cnt
    """,
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between per-nation mean customer
    balance and per-nation mean order price. Pair counting is O(k²)
    in the NUMBER OF GROUPS (25 nations → 300 pairs), so the
    quadratic step runs on the rollup, never the fact tables — the
    fact-side cost is two hash aggregations. Ties are counted
    explicitly for the tau-b denominator (doubles make them rare but
    the formula stays honest). Ref: reference rank-statistics tests
    (cf. stats_spearman for the rho twin)."""
    cu = table(spark, sf_dir, "customer")
    od = table(spark, sf_dir, "orders")
    cb = cu.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.avg("c_acctbal").alias("bal")
    )
    op = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.avg("o_totalprice").alias("price"))
    )
    pts = cb.join(op, "nk").select("nk", "bal", "price")
    a = pts.select(
        F.col("nk").alias("ka"), F.col("bal").alias("xa"), F.col("price").alias("ya")
    )
    b = pts.select(
        F.col("nk").alias("kb"), F.col("bal").alias("xb"), F.col("price").alias("yb")
    )
    pr = a.join(F.broadcast(b), F.col("ka") < F.col("kb"))
    sgn = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    cnt = pr.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count(F.when(sgn > 0, 1)).alias("conc"),
        F.count(F.when(sgn < 0, 1)).alias("disc"),
        F.count(
            F.when((F.col("xa") == F.col("xb")) & (F.col("ya") != F.col("yb")), 1)
        ).alias("tie_x"),
        F.count(
            F.when((F.col("ya") == F.col("yb")) & (F.col("xa") != F.col("xb")), 1)
        ).alias("tie_y"),
        F.count(
            F.when((F.col("xa") == F.col("xb")) & (F.col("ya") == F.col("yb")), 1)
        ).alias("tie_xy"),
    )
    npts = pts.agg(F.count(F.lit(1)).alias("n_points"))
    tau = (F.col("conc") - F.col("disc")) / F.sqrt(
        (F.col("n0") - F.col("tie_x") - F.col("tie_xy")).cast("double")
        * (F.col("n0") - F.col("tie_y") - F.col("tie_xy"))
    )
    return npts.crossJoin(cnt).select(
        "n_points",
        F.col("n0").alias("n_pairs"),
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        F.col("tie_x").alias("ties_x"),
        F.col("tie_y").alias("ties_y"),
        F.round(tau, 6).alias("tau_b"),
    )


# --------------------------------------------------------------------------
# Trimmed + winsorized mean per return flag
# --------------------------------------------------------------------------
@query(
    "stats_trimmed_mean",
    oracle=f"""
    WITH r AS (
      SELECT l_returnflag AS f, l_extendedprice AS x,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    b AS (SELECT *, CAST(floor(n * {_TRIM}) AS BIGINT) AS lo FROM r),
    bounds AS (
      SELECT f,
             min(CASE WHEN rn = lo + 1 THEN x END) AS xlo,
             min(CASE WHEN rn = n - lo THEN x END) AS xhi
      FROM b GROUP BY f
    )
    SELECT b.f AS l_returnflag,
           CAST(max(b.n) AS BIGINT) AS n_rows,
           CAST(max(b.lo) AS BIGINT) AS n_trimmed_each_side,
           round(max(bounds.xlo), 2) AS lower_bound,
           round(max(bounds.xhi), 2) AS upper_bound,
           round(avg(b.x), 6) AS raw_mean,
           round(avg(b.x) FILTER (b.rn > b.lo AND b.rn <= b.n - b.lo), 6)
             AS trimmed_mean,
           round(avg(CASE WHEN b.x < bounds.xlo THEN bounds.xlo
                          WHEN b.x > bounds.xhi THEN bounds.xhi
                          ELSE b.x END), 6) AS winsorized_mean
    FROM b JOIN bounds ON b.f = bounds.f
    GROUP BY b.f
    """,
)
def stats_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided trimmed mean AND winsorized mean of extended
    price per return flag — the robust-location pair every outlier
    postmortem wants next to the raw mean. Exact order statistics via
    one per-group window rank with a fully deterministic tiebreak
    (price, orderkey, linenumber); the trim keeps ranks
    (lo, n-lo], the winsorize clamps into the kept range's boundary
    VALUES. Three groups → three sort partitions; at 100 TB replace
    the exact bounds with approx_percentile and keep the clamp+avg
    shape (see agg_quantile_approx). Ref: reference robust-agg
    tests."""
    li = table(spark, sf_dir, "lineitem")
    wr = W.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wp = W.partitionBy("l_returnflag")
    b = (
        li.select(
            F.col("l_returnflag").alias("f"),
            F.col("l_extendedprice").alias("x"),
            "l_orderkey",
            "l_linenumber",
        )
        .withColumn("rn", F.row_number().over(
            W.partitionBy("f").orderBy("x", "l_orderkey", "l_linenumber")
        ))
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy("f")))
        .withColumn("lo", F.floor(F.col("n") * _TRIM).cast("bigint"))
    )
    bounds = b.groupBy("f").agg(
        F.min(F.when(F.col("rn") == F.col("lo") + 1, F.col("x"))).alias("xlo"),
        F.min(F.when(F.col("rn") == F.col("n") - F.col("lo"), F.col("x"))).alias(
            "xhi"
        ),
    )
    j = b.join(F.broadcast(bounds), "f")
    kept = (F.col("rn") > F.col("lo")) & (F.col("rn") <= F.col("n") - F.col("lo"))
    clamped = (
        F.when(F.col("x") < F.col("xlo"), F.col("xlo"))
        .when(F.col("x") > F.col("xhi"), F.col("xhi"))
        .otherwise(F.col("x"))
    )
    return (
        j.groupBy(F.col("f").alias("l_returnflag"))
        .agg(
            F.max("n").cast("bigint").alias("n_rows"),
            F.max("lo").cast("bigint").alias("n_trimmed_each_side"),
            F.round(F.max("xlo"), 2).alias("lower_bound"),
            F.round(F.max("xhi"), 2).alias("upper_bound"),
            F.round(F.avg("x"), 6).alias("raw_mean"),
            F.round(F.avg(F.when(kept, F.col("x"))), 6).alias("trimmed_mean"),
            F.round(F.avg(clamped), 6).alias("winsorized_mean"),
        )
    )
