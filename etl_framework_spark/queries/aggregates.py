"""Aggregations: SURVEY.md §2.4 (A1–A10).

Float discipline (SURVEY.md §5.3 rule 3): sums/avgs of doubles are
rounded identically on both sides because aggregation order can change
low bits; counts/ints stay exact. DuckDB sums of INTEGER return
HUGEINT — oracles cast to BIGINT to match Spark's LongType.

Contract keys: ``agg_groupby``, ``agg_global``, ``agg_count_distinct``,
``agg_approx_distinct``, ``agg_rollup``, ``agg_cube``,
``agg_conditional``, ``agg_collect``, ``agg_median``, ``agg_stats``,
``agg_pivot``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# A1 — hash group-by aggregation (TPC-H Q1 shape; the flagship query)
# --------------------------------------------------------------------------
@query(
    "agg_groupby",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (A1): scan → filter → hash agg with partial
    (map-side) aggregation. The canonical 100 TB-friendly agg: one
    shuffle of pre-aggregated partials, 6 groups out."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# A2 — global aggregation (no keys)
# --------------------------------------------------------------------------
@query(
    "agg_global",
    oracle="""
    SELECT count(*) AS n_rows,
           round(sum(l_extendedprice), 2) AS total_price,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           round(avg(l_quantity), 6) AS avg_qty,
           CAST(sum(l_linenumber) AS BIGINT) AS sum_linenumber
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global scalar aggregation (A2)."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.sum("l_linenumber").alias("sum_linenumber"),
    )


# --------------------------------------------------------------------------
# A3 — exact count distinct
# --------------------------------------------------------------------------
@query(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_custs,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) (A3) — Spark expands to a two-phase agg."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count("*").alias("n_orders"),
        )
    )


# --------------------------------------------------------------------------
# A4 — approximate count distinct (HLL) — no exact oracle by design
# --------------------------------------------------------------------------
@query("agg_approx_distinct")  # rows-only: approximate result is engine-specific
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approx distinct (A4). Sketch values are engine-specific so
    there is no hash oracle; tests assert ±5% of exact instead."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"))
    )


# --------------------------------------------------------------------------
# A5 — rollup / cube with GROUPING markers
# --------------------------------------------------------------------------
@query(
    "agg_rollup",
    oracle="""
    SELECT r.r_name, n.n_name,
           GROUPING(r.r_name) AS g_region, GROUPING(n.n_name) AS g_nation,
           count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (A5): region → nation → grand-total granularities.
    GROUPING() markers disambiguate NULL-as-subtotal (grouping_id bit
    order differs between engines, so per-column GROUPING is used)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("int").alias("g_region"),
        F.grouping("n_name").cast("int").alias("g_nation"),
        F.count("*").alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n_lines
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (A5): all 4 grouping-set combinations."""
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# A6 — filtered / conditional aggregation
# --------------------------------------------------------------------------
@query(
    "agg_conditional",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_finished,
           round(sum(CASE WHEN o_totalprice > 150000 THEN o_totalprice ELSE 0 END), 2)
             AS big_revenue,
           round(avg(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 6)
             AS avg_open_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (A6): COUNT/SUM/AVG over CASE exprs."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("n_finished"),
        F.round(
            F.sum(F.when(F.col("o_totalprice") > 150000, F.col("o_totalprice")).otherwise(0.0)), 2
        ).alias("big_revenue"),
        F.round(F.avg(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice"))), 6).alias(
            "avg_open_price"
        ),
    )


# --------------------------------------------------------------------------
# A7 — collect to array (order-normalized)
# --------------------------------------------------------------------------
@query(
    "agg_collect",
    oracle="""
    SELECT c_mktsegment,
           array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations,
           CAST(len(list(DISTINCT c_nationkey)) AS INT) AS n_nations
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect-to-array (A7), sorted for determinism. The array is
    serialized to a joined string for the comparator: DuckDB's pandas
    bridge yields numpy arrays where Spark yields lists, so a raw
    array column is a value-representation hazard for any hasher."""
    collected = F.sort_array(F.collect_set("c_nationkey"))
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(collected, ",").alias("nations"),
            F.size(collected).alias("n_nations"),
        )
    )


# --------------------------------------------------------------------------
# A8 — median / percentile (exact)
# --------------------------------------------------------------------------
@query(
    "agg_median",
    oracle="""
    SELECT event_type,
           round(median(value), 6) AS med_value,
           round(quantile_cont(value, 0.9), 6) AS p90_value
    FROM events GROUP BY event_type
    """,
)
def agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + continuous percentile (A8)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.median("value"), 6).alias("med_value"),
            F.round(F.percentile("value", 0.9), 6).alias("p90_value"),
        )
    )


# --------------------------------------------------------------------------
# A9 — second-moment stats
# --------------------------------------------------------------------------
@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS sd_price,
           round(var_samp(l_quantity), 6) AS var_qty,
           round(corr(l_extendedprice, l_quantity), 6) AS corr_pq
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddev/variance/correlation (A9); rounded — the engines use
    different streaming-moment algorithms (low-bit divergence)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
            F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
            F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
        )
    )


# --------------------------------------------------------------------------
# A10 — pivot (long → wide)
# --------------------------------------------------------------------------
@query(
    "agg_pivot",
    oracle="""
    SELECT n.n_name,
           round(sum(CASE WHEN o.o_orderstatus = 'F' THEN o.o_totalprice END), 2) AS "F",
           round(sum(CASE WHEN o.o_orderstatus = 'O' THEN o.o_totalprice END), 2) AS "O",
           round(sum(CASE WHEN o.o_orderstatus = 'P' THEN o.o_totalprice END), 2) AS "P"
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (A10) on a small, explicitly-listed key domain — listing
    the values avoids the extra distinct-scan job Spark needs to
    discover them (matters at 100 TB)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    joined = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    pv = (
        joined.groupBy("n_name")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum("o_totalprice"))
    )
    return pv.select(
        "n_name",
        F.round(F.col("F"), 2).alias("F"),
        F.round(F.col("O"), 2).alias("O"),
        F.round(F.col("P"), 2).alias("P"),
    )
