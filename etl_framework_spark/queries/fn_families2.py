"""Second-wave function coverage (SURVEY.md §2.8/§2.4/§2.5 widening):
edit-distance & string part functions, time-component extraction,
min_by/max_by with deterministic tie policy, bool aggregates,
nth_value/cume_dist analytics.

Contract keys: ``fn_string2``, ``fn_date2``, ``agg_minmax_by``,
``agg_bools``, ``win_analytics2``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


@query(
    "fn_string2",
    oracle="""
    SELECT p_partkey,
           levenshtein(p_brand, 'Brand#11') AS lev,
           split_part(p_type, ' ', 1) AS sp1,
           left(p_name, 3) AS l3,
           right(p_name, 3) AS r3,
           ascii(p_brand) AS asc_b,
           chr(ascii(p_brand) + 1) AS next_ch,
           contains(p_name, 'al') AS has_al,
           strpos(p_name, 'al') AS al_pos
    FROM part
    """,
)
def fn_string2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family, wave 2 (F1): levenshtein, split_part,
    left/right, ascii/chr, contains, locate."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.levenshtein(F.col("p_brand"), F.lit("Brand#11")).alias("lev"),
        F.expr("split_part(p_type, ' ', 1)").alias("sp1"),
        F.expr("left(p_name, 3)").alias("l3"),
        F.expr("right(p_name, 3)").alias("r3"),
        F.ascii("p_brand").alias("asc_b"),
        F.expr("char(ascii(p_brand) + 1)").alias("next_ch"),
        F.col("p_name").contains("al").alias("has_al"),
        F.locate("al", F.col("p_name")).alias("al_pos"),
    )


@query(
    "fn_date2",
    oracle="""
    SELECT event_id,
           hour(date_trunc('second', ts)) AS hr,
           minute(date_trunc('second', ts)) AS mi,
           second(date_trunc('second', ts)) AS sec,
           dayofyear(date_trunc('second', ts)) AS doy,
           CAST(make_date(2024, month(ts), 1) AS TIMESTAMP) AS month_anchor,
           make_timestamp(year(ts), month(ts), day(ts), 0, 0, 0.0) AS midnight
    FROM events
    """,
)
def fn_date2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date family, wave 2 (F2): time components, dayofyear,
    make_date/make_timestamp constructors."""
    ev = table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    return ev.select(
        "event_id",
        F.hour("tts").alias("hr"),
        F.minute("tts").alias("mi"),
        F.second("tts").alias("sec"),
        F.dayofyear("tts").alias("doy"),
        F.make_date(F.lit(2024), F.month("tts"), F.lit(1)).cast("timestamp").alias(
            "month_anchor"
        ),
        F.make_timestamp(
            F.year("tts"), F.month("tts"), F.dayofmonth("tts"),
            F.lit(0), F.lit(0), F.lit(0.0),
        ).alias("midnight"),
    )


@query(
    "agg_minmax_by",
    oracle="""
    WITH w AS (SELECT o_orderstatus, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_orderstatus
                          ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
                      row_number() OVER (PARTITION BY o_orderstatus
                          ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
               FROM orders)
    SELECT o_orderstatus,
           max(CASE WHEN rmax = 1 THEN o_orderkey END) AS top_order,
           max(CASE WHEN rmin = 1 THEN o_orderkey END) AS bottom_order,
           round(max(o_totalprice), 2) AS max_price
    FROM w GROUP BY o_orderstatus
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (A-family): the comparison value is a
    (price, orderkey) struct so ties resolve deterministically —
    bare max_by under ties is engine-arbitrary; the oracle expresses
    the same policy as a window pick."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr("max_by(o_orderkey, struct(o_totalprice, o_orderkey))").alias("top_order"),
        F.expr("min_by(o_orderkey, struct(o_totalprice, o_orderkey))").alias(
            "bottom_order"
        ),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@query(
    "agg_bools",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           CAST(sum(DISTINCT o_custkey) AS BIGINT) AS sum_distinct_cust,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_bools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/distinct aggregates (A-family): bool_and/bool_or,
    SUM(DISTINCT), ordered string_agg (order-normalized on both
    sides so the value is deterministic)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.sum_distinct(F.col("o_custkey")).alias("sum_distinct_cust"),
        F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias("statuses"),
    )


@query(
    "win_analytics2",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           nth_value(o_orderkey, 2) OVER w_full AS second_best,
           cume_dist() OVER w_val AS cd,
           lag(o_totalprice, 2, -1.0) OVER w_total AS lag2
    FROM orders
    WINDOW w_total AS (PARTITION BY o_orderstatus
                       ORDER BY o_totalprice DESC, o_orderkey),
           w_full  AS (PARTITION BY o_orderstatus
                       ORDER BY o_totalprice DESC, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
           w_val   AS (PARTITION BY o_orderstatus ORDER BY o_totalprice)
    """,
)
def win_analytics2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics wave 2 (W1/W2): nth_value over a full frame,
    cume_dist, lag with offset+default."""
    o = table(spark, sf_dir, "orders")
    w_total = W.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_full = w_total.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w_val = W.partitionBy("o_orderstatus").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_best"),
        F.cume_dist().over(w_val).alias("cd"),
        F.lag("o_totalprice", 2, -1.0).over(w_total).alias("lag2"),
    )
