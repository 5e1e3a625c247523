"""Fourth-wave coverage: explicit GROUPING SETS, unpivot/melt, HAVING
and NOT-IN query shapes (TPC-H Q18/Q16 style), and null-ordering
windows over an outer-join result.

Contract keys: ``agg_grouping_sets``, ``agg_unpivot``,
``q18_bigorders``, ``q16_notin``, ``win_null_order``,
``fn_conditional``, ``agg_stats2``, ``fn_binary``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import register_views, table
from etl_framework_spark.registry import query


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
           count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (A5 beyond rollup/cube): marginals per
    flag, per status, and the grand total in one pass."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "agg_unpivot",
    oracle="""
    WITH base AS (
      SELECT l_returnflag,
             round(sum(l_quantity), 2) AS qty,
             round(sum(l_extendedprice), 2) AS price,
             round(sum(l_discount), 2) AS disc
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'qty' AS metric, qty AS value FROM base
    UNION ALL
    SELECT l_returnflag, 'price', price FROM base
    UNION ALL
    SELECT l_returnflag, 'disc', disc FROM base
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt (A10 inverse): wide per-flag sums → long
    (metric, value) rows via DataFrame unpivot."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("price"),
        F.round(F.sum("l_discount"), 2).alias("disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["qty", "price", "disc"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "q18_bigorders",
    oracle="""
    SELECT c.c_name, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 2) AS totalprice,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    HAVING sum(l.l_quantity) > 150
    """,
)
def q18_bigorders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders via HAVING on an
    aggregated join."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 150)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("__qty", 2).alias("total_qty"),
        )
    )


@query(
    "q16_notin",
    oracle="""
    SELECT p.p_brand, p.p_type,
           count(DISTINCT l.l_suppkey) AS n_suppliers
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type
    """,
)
def q16_notin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery (null-aware anti join) +
    distinct-supplier counts per brand/type."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p.p_brand, p.p_type,
               count(DISTINCT l.l_suppkey) AS n_suppliers
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand <> 'Brand#1'
          AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                  WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_type
        """
    )


@query(
    "win_null_order",
    oracle="""
    WITH j AS (
      SELECT c.c_custkey, o.o_totalprice
      FROM customer c
      LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
        ON c.c_custkey = o.o_custkey)
    SELECT c_custkey, round(o_totalprice, 2) AS totalprice,
           row_number() OVER (ORDER BY o_totalprice DESC NULLS LAST,
                              c_custkey) AS rn
    FROM j
    """,
)
def win_null_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-ordering window (O1/W1): explicit DESC NULLS LAST over a
    null-producing outer join, with a key tiebreak for totality."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    j = c.join(o, c.c_custkey == o.o_custkey, "left").select("c_custkey", "o_totalprice")
    w = W.orderBy(F.col("o_totalprice").desc_nulls_last(), F.col("c_custkey"))
    return j.select(
        "c_custkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.row_number().over(w).alias("rn"),
    )


@query(
    "fn_conditional",
    oracle="""
    SELECT o_orderkey,
           if(o_totalprice > 200000, 'big', 'small') AS sz,
           coalesce(nullif(o_orderstatus, 'P'), 'pending') AS st,
           ifnull(nullif(o_orderpriority, '5-LOW'), 'LOW') AS pri,
           CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE -1 END AS f_price,
           greatest(o_totalprice, 100000.0) AS floor_price,
           isnan(o_totalprice / 1.0) AS is_nan
    FROM orders
    """,
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/null-handling family (P3/F widening): if, nullif,
    coalesce/ifnull, CASE, greatest, isnan."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr("if(o_totalprice > 200000, 'big', 'small')").alias("sz"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("pending")).alias("st"),
        F.ifnull(F.nullif("o_orderpriority", F.lit("5-LOW")), F.lit("LOW")).alias("pri"),
        F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
        .otherwise(-1.0)
        .alias("f_price"),
        F.greatest("o_totalprice", F.lit(100000.0)).alias("floor_price"),
        F.isnan(F.col("o_totalprice") / 1.0).alias("is_nan"),
    )


@query(
    "agg_stats2",
    oracle="""
    SELECT l_returnflag,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_s,
           round(covar_pop(l_quantity, l_extendedprice), 4) AS cov_p,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs,
           round(skewness(l_quantity) * (count(*) - 2)
                 / sqrt(count(*) * (count(*) - 1.0)), 6) AS skew_pop,
           round((kurtosis(l_quantity) * (count(*) - 2.0) * (count(*) - 3)
                  / (count(*) - 1.0) - 6) / (count(*) + 1.0), 6) AS kurt_pop
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics, wave 2 (A9): covariance, linear
    regression aggregates, skewness and excess kurtosis. Spark reports
    POPULATION skewness/kurtosis while DuckDB reports sample-adjusted
    (Fisher G1/G2) — the oracle converts with the exact n-dependent
    factors (verified to reproduce Spark bit-for-bit pre-rounding)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov_s"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("cov_p"),
        F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 4).alias("slope"),
        F.round(F.expr("regr_intercept(l_extendedprice, l_quantity)"), 4).alias(
            "intercept"
        ),
        F.round(F.expr("regr_r2(l_extendedprice, l_quantity)"), 6).alias("r2"),
        F.expr("regr_count(l_extendedprice, l_quantity)").alias("n_pairs"),
        F.round(F.skewness("l_quantity"), 6).alias("skew_pop"),
        F.round(F.kurtosis("l_quantity"), 6).alias("kurt_pop"),
    )


@query(
    "fn_binary",
    oracle="""
    SELECT p_partkey,
           base64(encode(p_name)) AS b64,
           decode(from_base64(base64(encode(p_name)))) AS b64_rt,
           hex(p_name) AS hx,
           decode(unhex(hex(encode(p_name)))) AS hex_rt,
           to_hex(p_partkey) AS key_hex,
           CAST(octet_length(encode(p_name)) AS INT) AS olen,
           CAST(octet_length(encode(p_name)) * 8 AS INT) AS blen
    FROM part
    """,
)
def fn_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary/encoding family (F7 adjunct): base64/unbase64 and
    hex/unhex roundtrips, numeric-to-hex, octet/bit length. String ↔
    binary boundaries are explicit casts on the Spark side and
    encode()/decode() on the DuckDB side; bit_length is pinned as
    octet_length*8 in the oracle (DuckDB's VARCHAR bit_length counts
    an escaped rendering of the blob, not its bytes)."""
    p = table(spark, sf_dir, "part")
    name_bin = F.col("p_name").cast("binary")
    return p.select(
        "p_partkey",
        F.base64(name_bin).alias("b64"),
        F.unbase64(F.base64(name_bin)).cast("string").alias("b64_rt"),
        F.hex(F.col("p_name")).alias("hx"),
        F.unhex(F.hex(F.col("p_name"))).cast("string").alias("hex_rt"),
        F.hex(F.col("p_partkey")).alias("key_hex"),
        F.octet_length("p_name").alias("olen"),
        F.bit_length("p_name").alias("blen"),
    )
