"""TPC-H shapes Q4–Q21 adapted to the testdata schema (FIXTURES.md:
no commitdate/shipmode/partsupp, doubles for money, NATION_n names).

Complements tpch_like.py (Q2/Q3/Q10/Q11/Q14/Q16/Q18/Q19/Q22). Where
the classic formulation needs a column we don't have, the adaptation
keeps the *operator shape* (the thing being tested): Q4's
commitdate-vs-receiptdate EXISTS becomes shipdate-vs-orderdate+30d;
Q9's partsupp supplycost becomes a retailprice-based cost proxy;
Q12's shipmode groups become linestatus; Q21 is rewritten from
correlated EXISTS/NOT-EXISTS into the O(rows) per-order aggregate
form — the formulation you'd actually run at 100 TB (no per-row
rescans of lineitem, two partial-agg shuffles instead).

Queries with subqueries/CTEs run through spark.sql (E3) so Catalyst's
decorrelation rules fire; plain join+agg shapes use the DataFrame API
(E2) with broadcast hints on dims.

Contract keys: ``q4_priority``, ``q5_local``, ``q6_forecast``,
``q7_volume``, ``q8_share``, ``q9_profit``, ``q12_priority_mix``,
``q13_custdist``, ``q15_topsupp``, ``q17_smallqty``, ``q20_excess``,
``q21_waiting``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import sql_over_views, table
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# Q4 shape — priority check via EXISTS (late line items)
# --------------------------------------------------------------------------
_Q4_SQL = """
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-07-01'
      AND o.o_orderdate <  TIMESTAMP '1997-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o.o_orderpriority
"""


@query("q4_priority", oracle=_Q4_SQL)
def q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority counts over a quarter, EXISTS a
    late lineitem (>30d after orderdate) — semi join after Catalyst's
    RewritePredicateSubquery."""
    return sql_over_views(spark, sf_dir, _Q4_SQL)


# --------------------------------------------------------------------------
# Q5 shape — local-supplier volume (6-way star join, same-nation constraint)
# --------------------------------------------------------------------------
@query(
    "q5_local",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join where customer and supplier must
    share a nation; region filter prunes through two broadcast dims."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# Q6 shape — forecasting revenue change (pure scan+filter+agg)
# --------------------------------------------------------------------------
@query(
    "q6_forecast",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: every predicate pushes to the parquet scan; the
    whole query is one scan + one partial/final agg, zero joins."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


# --------------------------------------------------------------------------
# Q7 shape — volume shipping between two nations, by year
# --------------------------------------------------------------------------
@query(
    "q7_volume",
    oracle="""
    SELECT supp_nation, cust_nation, yr, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS yr,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, yr
    """,
)
def q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume per ship
    year; both nation dims broadcast, disjunctive pair predicate."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("yr"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "yr")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q8 shape — national market share within a region
# --------------------------------------------------------------------------
_Q8_SQL = """
    SELECT yr,
           round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS yr,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
    ) all_nations
    GROUP BY yr
"""


@query("q8_share", oracle=_Q8_SQL)
def q8_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's PROMO-part
    market per year — 8-table join, conditional-ratio aggregate."""
    return sql_over_views(spark, sf_dir, _Q8_SQL)


# --------------------------------------------------------------------------
# Q9 shape — product-type profit by nation and year
# --------------------------------------------------------------------------
_Q9_SQL = """
    SELECT nation, yr, round(sum(amount), 2) AS profit
    FROM (
      SELECT n.n_name AS nation,
             CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS yr,
             l.l_extendedprice * (1 - l.l_discount)
               - 0.6 * p.p_retailprice * l.l_quantity AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      WHERE p.p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, yr
"""


@query("q9_profit", oracle=_Q9_SQL)
def q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per year. No
    partsupp table in this schema, so supply cost is proxied as
    0.6 × p_retailprice × quantity — same join/agg shape."""
    return sql_over_views(spark, sf_dir, _Q9_SQL)


# --------------------------------------------------------------------------
# Q12 shape — priority mix per line status (shipmode stand-in)
# --------------------------------------------------------------------------
@query(
    "q12_priority_mix",
    oracle="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_linestatus
    """,
)
def q12_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode → linestatus): conditional counts of
    urgent vs non-urgent orders per group over a ship-year band."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# Q13 shape — customer order-count distribution
# --------------------------------------------------------------------------
_Q13_SQL = """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey AS ck, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
"""


@query("q13_custdist", oracle=_Q13_SQL)
def q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: orders-per-customer histogram through an outer
    join with a join-side filter (customers with zero matches count 0)
    and a second aggregation over the first."""
    return sql_over_views(spark, sf_dir, _Q13_SQL)


# --------------------------------------------------------------------------
# Q15 shape — top supplier(s) by quarterly revenue (CTE + scalar max)
# --------------------------------------------------------------------------
_Q15_SQL = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@query("q15_topsupp", oracle=_Q15_SQL)
def q15_topsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: CTE reused twice (group revenue + its scalar
    max); revenue is rounded before the max so ties are engine-stable."""
    return sql_over_views(spark, sf_dir, _Q15_SQL)


# --------------------------------------------------------------------------
# Q17 shape — small-quantity revenue vs per-part average (correlated avg)
# --------------------------------------------------------------------------
_Q17_SQL = """
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = p.p_partkey)
"""


@query("q17_smallqty", oracle=_Q17_SQL)
def q17_smallqty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average-quantity subquery
    — decorrelated by Catalyst into an aggregate joined back on
    partkey (one pass over lineitem, not one rescan per part)."""
    return sql_over_views(spark, sf_dir, _Q17_SQL)


# --------------------------------------------------------------------------
# Q20 shape — suppliers with excess supplied quantity (nested grouped IN)
# --------------------------------------------------------------------------
_Q20_SQL = """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE '%bolt%'
        AND l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING sum(l.l_quantity) > 50
    )
"""


@query("q20_excess", oracle=_Q20_SQL)
def q20_excess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (no partsupp): suppliers who shipped >50 units
    of any bolt part in 1997 — IN over a grouped+HAVING subquery,
    planned as agg → semi join."""
    return sql_over_views(spark, sf_dir, _Q20_SQL)


# --------------------------------------------------------------------------
# Q21 shape — suppliers who were the sole late shipper on multi-supplier
# orders. Rewritten from the classic correlated EXISTS/NOT-EXISTS into
# per-order aggregates: at 100 TB the correlated form rescans lineitem
# per row; this form is two partial-agg shuffles on (orderkey, suppkey)
# then (orderkey) — O(rows), skew-tolerant.
# --------------------------------------------------------------------------
_Q21_SQL = """
    WITH flagged AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END AS is_late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    ),
    per_supp AS (
      SELECT l_orderkey, l_suppkey, max(is_late) AS supp_late
      FROM flagged GROUP BY l_orderkey, l_suppkey
    ),
    per_order AS (
      SELECT l_orderkey,
             count(*) AS n_supps,
             sum(supp_late) AS n_late
      FROM per_supp GROUP BY l_orderkey
    )
    SELECT s.s_name, count(*) AS numwait
    FROM per_supp ps
    JOIN per_order po ON ps.l_orderkey = po.l_orderkey
    JOIN supplier s   ON s.s_suppkey = ps.l_suppkey
    WHERE ps.supp_late = 1 AND po.n_supps > 1 AND po.n_late = 1
    GROUP BY s.s_name
"""


@query("q21_waiting", oracle=_Q21_SQL)
def q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: count, per supplier, the finished
    multi-supplier orders where that supplier was the only late one
    (late = shipped >60d after orderdate)."""
    return sql_over_views(spark, sf_dir, _Q21_SQL)
