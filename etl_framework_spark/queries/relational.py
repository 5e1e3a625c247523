"""Relational core: scans, projections, filters, joins, set ops, top-k.

SURVEY.md §2.1 (S1, S5), §2.2 (P1–P4), §2.3 (J1–J10), §2.6 (O2),
§2.7 (U1–U4). Reference checkout absent (SURVEY.md §0) — rows cite the
§2 contract table instead of reference file:line.

Scale notes (100 TB design): every query here is a declarative
DataFrame plan — Catalyst pushes filters/projections to the parquet
scan, picks broadcast-hash for the small dims (we hint explicitly for
region/nation), and AQE handles skew/coalescing. No collect()s, no
Python row loops.

Contract keys: ``scan_parquet``, ``project_expr``, ``filter_pred``,
``case_when``, ``distinct_proj``, ``join_inner``, ``join_outer``,
``join_semi``, ``join_anti``, ``join_broadcast``, ``join_cross``,
``join_range``, ``join_interval``, ``join_star``, ``topk``,
``set_union_all``, ``set_union``, ``set_intersect``, ``set_except``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import guarded
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# §2.1 S1 — parquet scan
# --------------------------------------------------------------------------
@query(
    "scan_parquet",
    oracle="SELECT * FROM lineitem",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table parquet scan (S1). Columnar, vectorized reader."""
    return table(spark, sf_dir, "lineitem")


# --------------------------------------------------------------------------
# §2.2 P1 — project / rename / compute
# --------------------------------------------------------------------------
@query(
    "project_expr",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS disc_price,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem
    """,
)
def project_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection with arithmetic expressions (P1).

    Row-level IEEE arithmetic with identical association order is
    bit-deterministic across engines — no rounding needed.
    """
    li = table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        disc.alias("disc_price"),
        (disc * (1 + F.col("l_tax"))).alias("charge"),
    )


# --------------------------------------------------------------------------
# §2.2 P2 — filter with BETWEEN / IN / LIKE / IS NOT NULL
# --------------------------------------------------------------------------
@query(
    "filter_pred",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_totalprice BETWEEN 50000 AND 200000
      AND o_orderstatus IN ('F', 'O')
      AND o_orderpriority LIKE '_-%'
      AND NOT o_orderpriority LIKE '5%'
      AND o_custkey IS NOT NULL
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicates (P2); all pushed to the parquet scan."""
    o = table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_totalprice").between(50000, 200000)
        & F.col("o_orderstatus").isin("F", "O")
        & F.col("o_orderpriority").like("_-%")
        & ~F.col("o_orderpriority").like("5%")
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


# --------------------------------------------------------------------------
# §2.2 P3 — CASE WHEN / null handling
# --------------------------------------------------------------------------
@query(
    "case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 250000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS price_band,
           coalesce(nullif(o_orderstatus, 'P'), 'pending') AS status_norm
    FROM orders
    """,
)
def case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expressions (P3)."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 250000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("pending")).alias(
            "status_norm"
        ),
    )


# --------------------------------------------------------------------------
# §2.2 P4 — SELECT DISTINCT
# --------------------------------------------------------------------------
@query(
    "distinct_proj",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def distinct_proj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct projection (P4) — partial-aggregate dedup, one shuffle."""
    return table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


# --------------------------------------------------------------------------
# §2.3 J1 — inner equi-join
# --------------------------------------------------------------------------
@query(
    "join_inner",
    oracle="""
    SELECT o.o_orderkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join (J1); Catalyst picks broadcast/SMJ by size."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_name", "o_totalprice"
    )


# --------------------------------------------------------------------------
# §2.3 J2 — left outer join (null-extended non-matches)
# --------------------------------------------------------------------------
@query(
    "join_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
      ON c.c_custkey = o.o_custkey
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join (J2) with a filtered right side so nulls appear."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


# --------------------------------------------------------------------------
# §2.3 J3 — left semi (EXISTS)
# --------------------------------------------------------------------------
@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (J3) == EXISTS."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


# --------------------------------------------------------------------------
# §2.3 J4 — left anti (NOT EXISTS)
# --------------------------------------------------------------------------
@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (J4) == NOT EXISTS."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


# --------------------------------------------------------------------------
# §2.3 J5 — broadcast join (explicit small-dim hint)
# --------------------------------------------------------------------------
@query(
    "join_broadcast",
    oracle="""
    SELECT r.r_name, n.n_name,
           count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-hint join (J5): same semantics as J1; the hint keeps the
    dim tables replicated instead of shuffling the 100 TB fact side."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# §2.3 J6 — cross join (tiny inputs only)
# --------------------------------------------------------------------------
@query(
    "join_cross",
    oracle="SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (J6); only ever between bounded dims."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


# --------------------------------------------------------------------------
# §2.3 J7 — theta / range (band) join
# --------------------------------------------------------------------------
_BANDS = [("low", 0.0, 100000.0), ("mid", 100000.0, 250000.0), ("high", 250000.0, 1e9)]


@query(
    "join_range",
    oracle="""
    SELECT b.band, count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS sum_price
    FROM orders o
    JOIN (VALUES ('low', 0.0, 100000.0),
                 ('mid', 100000.0, 250000.0),
                 ('high', 250000.0, 1000000000.0)) b(band, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join (J7): non-equi predicate against a small bands relation.

    Planned as broadcast-nested-loop over the tiny band side — the
    right shape at 100 TB too (bands are O(1), fact streams through).
    """
    o = table(spark, sf_dir, "orders")
    bands = guarded.local_frame(
        spark, _BANDS, "band string, lo double, hi double"
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


# --------------------------------------------------------------------------
# §2.3 J9 — interval/overlap join (events self-join within 1 hour)
# --------------------------------------------------------------------------
@query(
    "join_interval",
    oracle="""
    SELECT a.event_id AS eid_a, b.event_id AS eid_b
    FROM (SELECT event_id, user_id, date_trunc('second', ts) AS tts FROM events) a
    JOIN (SELECT event_id, user_id, date_trunc('second', ts) AS tts FROM events) b
      ON a.user_id = b.user_id
     AND b.tts >= a.tts AND b.tts < a.tts + INTERVAL 1 HOUR
     AND a.event_id <> b.event_id
    """,
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (J9): pairs of same-user events within [t, t+1h).

    events.ts is ns in parquet; both sides truncate to seconds before
    comparing (SURVEY.md §5.3 rule 4). The equi-key user_id keeps this
    a hash join with a residual range filter — scales as a normal
    shuffle join, no BNLJ.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.date_trunc("second", F.col("ts")).alias("tts")
    )
    a = ev.alias("a")
    b = ev.alias("b")
    return a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.tts") >= F.col("a.tts"))
        & (F.col("b.tts") < F.col("a.tts") + F.expr("INTERVAL 1 HOUR"))
        & (F.col("a.event_id") != F.col("b.event_id")),
    ).select(F.col("a.event_id").alias("eid_a"), F.col("b.event_id").alias("eid_b"))


# --------------------------------------------------------------------------
# §2.3 J10 — multi-way star join (TPC-H Q5 shape)
# --------------------------------------------------------------------------
@query(
    "join_star",
    oracle="""
    SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join (J10): fact × 4 dims, Q5 shape. Dims broadcast; the only
    big shuffle is lineitem⋈orders — exactly what we want at 100 TB."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# §2.6 O2 — top-k (ORDER BY ... LIMIT k) with total order
# --------------------------------------------------------------------------
@query(
    "topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k (O2): Spark plans TakeOrderedAndProject — per-partition
    heap + driver merge, no global sort. Tiebreak key makes it total."""
    return (
        table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


# --------------------------------------------------------------------------
# §2.7 U1–U4 — set operations
# --------------------------------------------------------------------------
@query(
    "set_union_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union (U1)."""
    o = table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.unionAll(op)


@query(
    "set_union",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    UNION
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union (U2)."""
    o = table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.union(op).distinct()


@query(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (U3)."""
    o = table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(op)


@query(
    "set_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag difference (U4, EXCEPT ALL semantics)."""
    o = table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.exceptAll(op)
