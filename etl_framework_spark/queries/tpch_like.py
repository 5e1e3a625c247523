"""TPC-H-shaped composite queries adapted to the testdata schema
(FIXTURES.md: no commitdate/shipmode/comment columns, doubles for
money, timestamps for dates) — these prove multi-operator composition
end-to-end: star joins + filters + aggs + top-k in one plan.

Subquery coverage (SURVEY.md §4: decorrelation is Catalyst's job)
runs through spark.sql over the registered temp views — the E3 entry
point — so RewriteCorrelatedScalarSubquery / RewritePredicateSubquery
actually fire.

Contract keys: ``q3_unshipped``, ``q10_returns``, ``q14_promo``,
``q19_brackets``, ``subq_scalar``, ``subq_in``, ``subq_correlated``,
``q2_mincost``, ``q11_threshold``, ``q22_noorders``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import register_views, table
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# Q3 shape — unshipped-orders revenue top-10
# --------------------------------------------------------------------------
@query(
    "q3_unshipped",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey LIMIT 10
    """,
)
def q3_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter × date band × revenue agg ×
    top-k. Ranking uses the ROUNDED revenue + orderkey tiebreak so the
    top-10 set is engine-stable."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q10 shape — returned-item customers
# --------------------------------------------------------------------------
@query(
    "q10_returns",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           round(c.c_acctbal, 2) AS acctbal
    FROM customer c
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c.c_custkey LIMIT 20
    """,
)
def q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-lineitem revenue per customer,
    top-20 — fact-side filter first, dims broadcast."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q14 shape — promo revenue share
# --------------------------------------------------------------------------
@query(
    "q14_promo",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-04-01'
    """,
)
def q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue ratio over one quarter."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share")
        )
    )


# --------------------------------------------------------------------------
# Q19 shape — bracketed OR-of-ANDs predicates
# --------------------------------------------------------------------------
@query(
    "q19_brackets",
    oracle="""
    SELECT count(*) AS n,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 10)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 20)
       OR (p.p_type = 'PROMO' AND l.l_discount > 0.05)
    """,
)
def q19_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brackets across the
    join — Catalyst extracts the common join key and pushes residuals."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 20))
        | ((F.col("p_type") == "PROMO") & (F.col("l_discount") > 0.05))
    )
    return j.filter(cond).agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )


# --------------------------------------------------------------------------
# Subqueries (E3 / Catalyst decorrelation)
# --------------------------------------------------------------------------
@query(
    "subq_scalar",
    oracle="""
    SELECT c_custkey, round(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    """,
)
def subq_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery, through spark.sql (E3)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        """
    )


@query(
    "subq_in",
    oracle="""
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    """,
)
def subq_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (rewritten to a semi join by Catalyst)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        """
    )


@query(
    "subq_correlated",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS totalprice
    FROM orders o
    WHERE o.o_totalprice > 1.5 * (SELECT avg(o2.o_totalprice) FROM orders o2
                                  WHERE o2.o_custkey = o.o_custkey)
    """,
)
def subq_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders 50% above their customer's
    average — decorrelated by Catalyst into an aggregate + join."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS totalprice
        FROM orders o
        WHERE o.o_totalprice > 1.5 * (SELECT avg(o2.o_totalprice) FROM orders o2
                                      WHERE o2.o_custkey = o.o_custkey)
        """
    )


# --------------------------------------------------------------------------
# Q2 shape — minimum-cost supplier per part (correlated min)
# --------------------------------------------------------------------------
_Q2_SQL = """
    SELECT DISTINCT p.p_partkey, s.s_suppkey, round(s.s_acctbal, 2) AS acctbal
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE p.p_size < 20
      AND s.s_acctbal = (SELECT min(s2.s_acctbal)
                         FROM supplier s2
                         JOIN lineitem l2 ON l2.l_suppkey = s2.s_suppkey
                         WHERE l2.l_partkey = p.p_partkey)
"""


@query("q2_mincost", oracle=_Q2_SQL)
def q2_mincost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum-acctbal supplier via a
    correlated MIN subquery (Catalyst decorrelates to agg + join)."""
    register_views(spark, sf_dir)
    return spark.sql(_Q2_SQL)


# --------------------------------------------------------------------------
# Q11 shape — groups exceeding a share of a global aggregate
# --------------------------------------------------------------------------
_Q11_SQL = """
    SELECT s_nationkey, round(sum(s_acctbal), 2) AS nation_bal
    FROM supplier
    GROUP BY s_nationkey
    HAVING sum(s_acctbal) > (SELECT sum(s_acctbal) * 0.08 FROM supplier)
"""


@query("q11_threshold", oracle=_Q11_SQL)
def q11_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a global-scalar subquery."""
    register_views(spark, sf_dir)
    return spark.sql(_Q11_SQL)


# --------------------------------------------------------------------------
# Q22 shape — above-average balances with no orders
# --------------------------------------------------------------------------
_Q22_SQL = """
    SELECT c.c_nationkey, count(*) AS n_custs,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer
                         WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 400000)
    GROUP BY c.c_nationkey
"""


@query("q22_noorders", oracle=_Q22_SQL)
def q22_noorders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold + predicated
    NOT EXISTS (anti join) + group aggregation. (Every customer has
    at least one order in this testdata, so the anti-join predicate
    is on big orders rather than order existence.)"""
    register_views(spark, sf_dir)
    return spark.sql(_Q22_SQL)
