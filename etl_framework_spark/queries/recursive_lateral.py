"""Sixth-wave coverage — modern SQL shapes: recursive CTEs (Spark 4),
LATERAL correlated subqueries, and null-safe equality joins.

Contract keys: ``cte_recursive``, ``join_lateral``, ``join_nullsafe``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import sql_over_views, table
from etl_framework_spark.registry import query


# A recursive month spine left-joined to orders = gap-filled monthly
# counts (months with zero orders still appear). The fact side is
# aggregated to month FIRST (date_trunc equi-key), so the spine join
# touches ~80 grouped rows — an interval join here would be a
# months×orders nested loop (measured 3.9s vs 0.6s at sf0.1).
_RECURSIVE_SQL = """
    WITH RECURSIVE months(m) AS (
      SELECT TIMESTAMP '1995-01-01'
      UNION ALL
      SELECT m + INTERVAL 1 MONTH FROM months
      WHERE m < TIMESTAMP '2001-07-01'
    ),
    per_month AS (
      SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n
      FROM orders GROUP BY date_trunc('month', o_orderdate)
    )
    SELECT months.m AS month_start,
           CAST(coalesce(per_month.n, 0) AS BIGINT) AS n_orders
    FROM months LEFT JOIN per_month ON months.m = per_month.m
"""


@query("cte_recursive", oracle=_RECURSIVE_SQL)
def cte_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): generate a monthly
    calendar spine by recursion, then gap-fill per-month order counts
    via an equi-join on the truncated month — months with no orders
    report 0; the fact table is reduced before it meets the spine."""
    return sql_over_views(spark, sf_dir, _RECURSIVE_SQL)


_LATERAL_SQL = """
    SELECT c.c_custkey, t.o_orderkey, t.totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2
    ) t
    WHERE c.c_custkey % 50 = 0
"""


@query("join_lateral", oracle=_LATERAL_SQL)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: top-2 orders per customer with
    the per-group LIMIT inside the lateral relation (the SQL twin of
    the W6 window top-k, planned as a rank-limited join)."""
    return sql_over_views(spark, sf_dir, _LATERAL_SQL)


@query(
    "join_nullsafe",
    oracle="""
    WITH a AS (
      SELECT NULLIF(o_orderstatus, 'P') AS k, count(*) AS n_all
      FROM orders GROUP BY NULLIF(o_orderstatus, 'P')
    ),
    b AS (
      SELECT NULLIF(o_orderstatus, 'P') AS k, count(*) AS n_big
      FROM orders WHERE o_totalprice > 200000
      GROUP BY NULLIF(o_orderstatus, 'P')
    )
    SELECT a.k, CAST(a.n_all AS BIGINT) AS n_all,
           CAST(b.n_big AS BIGINT) AS n_big
    FROM a LEFT JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): the NULL
    group key (status 'P' nulled out) must match the NULL key on the
    other side instead of null-extending — the semantics CDC merge
    keys rely on when business keys are nullable."""
    o = table(spark, sf_dir, "orders")
    k = F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("k")
    a = o.groupBy(k).agg(F.count("*").alias("n_all"))
    b = (
        o.filter(F.col("o_totalprice") > 200000)
        .groupBy(k)
        .agg(F.count("*").alias("n_big"))
    )
    return a.join(b, a.k.eqNullSafe(b.k), "left").select(
        a.k.alias("k"), "n_all", "n_big"
    )
