"""Contract keys: ``join_or_decomposed``, ``stats_deming``,
``dq_duplicate_payments``.

OR-join decomposition, Deming regression, and
duplicate-payment detection.

Reference parity: the reference's disjunctive-join rewrite, its
errors-in-variables fit, and its payments-audit rule — re-expressed
as a union of equi-joins, a closed-form eigen slope, and a
blocked self-join.

Scale notes:

- ``join_or_decomposed``: a join on (A OR B) has no single equi key,
  so naive engines nested-loop it. The rewrite — equi-join on A,
  equi-join on B, UNION DISTINCT — restores two hash joins plus one
  dedup shuffle. The oracle keeps the naive OR join; equality proves
  the rewrite.
- ``stats_deming``: one moments rollup (same shape as
  stats_simpsons); the slope is the closed-form eigenvector of the
  2x2 covariance — no iteration.
- ``dq_duplicate_payments``: candidate pairs are blocked by the
  (customer, amount) equi key BEFORE the date-window predicate — the
  audit never scans order pairs across customers.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_DUP_WINDOW_D = 7  # duplicate-payment lookback window
_DUP_TOL = 0.10  # amounts within 10% count as suspicious


# --------------------------------------------------------------------------
# OR-join decomposed into a union of equi-joins
# --------------------------------------------------------------------------
@query(
    "join_or_decomposed",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS balband
      FROM customer
    ),
    s AS (
      SELECT s_suppkey, s_nationkey,
             CAST(floor(s_acctbal / 1000.0) AS BIGINT) AS balband
      FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           c.c_nationkey = s.s_nationkey AS nation_match,
           c.balband = s.balband AS band_match
    FROM c JOIN s
      ON c.c_nationkey = s.s_nationkey OR c.balband = s.balband
    """,
)
def join_or_decomposed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers matched to suppliers on same nation OR same
    thousand-dollar balance band — the disjunctive join that naive
    plans execute as a nested loop. The Spark plan is the standard
    rewrite: one hash equi-join per disjunct, UNION DISTINCT to
    dedup pairs matching both — two shuffles on real keys instead of
    an O(n·m) predicate scan (the oracle keeps the naive OR join to
    prove equality). The match-reason flags are recomputed on the
    deduped pairs so both engines derive them identically. Ref:
    reference disjunctive-join rewrite tests.

    r11 optimization (guide §2.4, remove shuffles outright): the
    UNION ... DISTINCT dedup shuffle over the full pair set is gone —
    the second disjunct is pre-filtered to rows where the FIRST
    disjunct does not hold (c_nationkey != s_nationkey), so the two
    branches are disjoint by construction and a plain unionAll is
    exact. The old plan's only Exchange (hash dedup of ~1.2M pairs at
    sf0.1) disappears; both branches stay broadcast joins."""
    cu = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("c_band"),
    )
    su = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.col("s_nationkey").cast("int").alias("s_nationkey"),
        F.floor(F.col("s_acctbal") / 1000.0).cast("bigint").alias("s_band"),
    )
    j_nation = cu.join(
        F.broadcast(su), cu.c_nationkey == su.s_nationkey
    ).select("c_custkey", "s_suppkey", "c_nationkey", "s_nationkey", "c_band", "s_band")
    # ADVICE r11: null-safe inequality — a band-matched pair with a
    # NULL nationkey must survive (the old UNION..DISTINCT kept it);
    # `!=` would drop it. Inert on TPC-H NOT NULL keys, exact on
    # nullable input.
    j_band = cu.join(
        F.broadcast(su),
        (cu.c_band == su.s_band)
        & ~cu.c_nationkey.eqNullSafe(su.s_nationkey),
    ).select(
        "c_custkey", "s_suppkey", "c_nationkey", "s_nationkey", "c_band", "s_band"
    )
    pairs = j_nation.unionAll(j_band)
    return pairs.select(
        "c_custkey",
        "s_suppkey",
        (F.col("c_nationkey") == F.col("s_nationkey")).alias("nation_match"),
        (F.col("c_band") == F.col("s_band")).alias("band_match"),
    )


# --------------------------------------------------------------------------
# Deming (errors-in-both-variables) regression
# --------------------------------------------------------------------------
@query(
    "stats_deming",
    oracle="""
    WITH cb AS (
      SELECT c_nationkey AS nk, avg(c_acctbal) AS x
      FROM customer GROUP BY nk
    ),
    op AS (
      SELECT c.c_nationkey AS nk, avg(o.o_totalprice) / 100.0 AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY nk
    ),
    pts AS (SELECT cb.nk, cb.x, op.y FROM cb JOIN op ON cb.nk = op.nk),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             avg(x) AS mx, avg(y) AS my,
             avg(x * y) AS mxy, avg(x * x) AS mxx, avg(y * y) AS myy
      FROM pts
    ),
    d AS (
      SELECT n, mx, my,
             mxy - mx * my AS sxy,
             mxx - mx * mx AS sxx,
             myy - my * my AS syy
      FROM m
    )
    SELECT n,
           round((syy - sxx + sqrt((syy - sxx) * (syy - sxx)
                                   + 4 * sxy * sxy)) / (2 * sxy), 6)
             AS deming_slope,
           round(sxy / sxx, 6) AS ols_slope,
           round(my - (syy - sxx + sqrt((syy - sxx) * (syy - sxx)
                                        + 4 * sxy * sxy)) / (2 * sxy) * mx, 6)
             AS deming_intercept
    FROM d
    """,
)
def stats_deming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming regression (equal error variance in BOTH variables) of
    per-nation mean order price on per-nation mean customer balance:
    when x is as noisy as y, OLS attenuates the slope toward zero —
    Deming's closed form (the principal eigen direction of the 2x2
    covariance) is the honest fit, reported next to the OLS slope so
    the attenuation is visible. One moments rollup; the slope is
    pure expression arithmetic on 1 row. Ref: reference
    errors-in-variables tests (cf. agg_regression,
    stats_kendall_tau)."""
    cu = table(spark, sf_dir, "customer")
    od = table(spark, sf_dir, "orders")
    cb = cu.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.avg("c_acctbal").alias("x")
    )
    op = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg((F.avg("o_totalprice") / 100.0).alias("y"))
    )
    pts = cb.join(op, "nk")
    m = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
    )
    sxy = F.col("mxy") - F.col("mx") * F.col("my")
    sxx = F.col("mxx") - F.col("mx") * F.col("mx")
    syy = F.col("myy") - F.col("my") * F.col("my")
    dem = (syy - sxx + F.sqrt((syy - sxx) * (syy - sxx) + 4 * sxy * sxy)) / (
        2 * sxy
    )
    return m.select(
        "n",
        F.round(dem, 6).alias("deming_slope"),
        F.round(sxy / sxx, 6).alias("ols_slope"),
        F.round(F.col("my") - dem * F.col("mx"), 6).alias("deming_intercept"),
    )


# --------------------------------------------------------------------------
# Duplicate-payment audit: same customer + amount within 7 days
# --------------------------------------------------------------------------
@query(
    "dq_duplicate_payments",
    oracle=f"""
    WITH pairs AS (
      SELECT a.o_custkey AS cust,
             a.o_orderkey AS k1, b.o_orderkey AS k2,
             a.o_totalprice AS amt1, b.o_totalprice AS amt2,
             date_diff('day', CAST(a.o_orderdate AS DATE),
                       CAST(b.o_orderdate AS DATE)) AS gap_d
      FROM orders a JOIN orders b
        ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
      WHERE abs(date_diff('day', CAST(a.o_orderdate AS DATE),
                          CAST(b.o_orderdate AS DATE))) <= {_DUP_WINDOW_D}
        AND abs(a.o_totalprice - b.o_totalprice)
            / greatest(a.o_totalprice, b.o_totalprice) <= {_DUP_TOL}
    )
    SELECT cust, k1, k2,
           round(amt1, 2) AS amount_1,
           round(amt2, 2) AS amount_2,
           round(abs(amt1 - amt2) / greatest(amt1, amt2), 6)
             AS amount_rel_diff,
           CAST(gap_d AS BIGINT) AS gap_days
    FROM pairs
    """,
)
def dq_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment audit: pairs of orders by the SAME customer
    within 7 days whose amounts agree to within 10% — the
    double-charge / double-submit screen every billing pipeline runs
    (exact-cent matching finds nothing in continuous-amount data, so
    the practical rule is a relative tolerance). The self-join is
    BLOCKED on the customer equi key (≈10 orders per customer → ≤45
    candidate pairs each), then refined by the date window and amount
    ratio — block-then-refine, same shape as the dedup family. Ref:
    reference payments-audit tests (cf. llm_dedup_exact,
    llm_cross_source_dups)."""
    od = table(spark, sf_dir, "orders")
    a = od.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("k1"),
        F.col("o_totalprice").alias("amt1"),
        F.col("o_orderdate").cast("date").alias("d1"),
    )
    b = od.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("k2"),
        F.col("o_totalprice").alias("amt2"),
        F.col("o_orderdate").cast("date").alias("d2"),
    )
    rel = F.abs(F.col("amt1") - F.col("amt2")) / F.greatest(
        F.col("amt1"), F.col("amt2")
    )
    pairs = (
        a.join(b, "cust")
        .filter(F.col("k1") < F.col("k2"))
        .withColumn("gap_d", F.datediff(F.col("d2"), F.col("d1")))
        .filter(F.abs(F.col("gap_d")) <= _DUP_WINDOW_D)
        .filter(rel <= _DUP_TOL)
    )
    return pairs.select(
        "cust",
        "k1",
        "k2",
        F.round("amt1", 2).alias("amount_1"),
        F.round("amt2", 2).alias("amount_2"),
        F.round(rel, 6).alias("amount_rel_diff"),
        F.col("gap_d").cast("bigint").alias("gap_days"),
    )
