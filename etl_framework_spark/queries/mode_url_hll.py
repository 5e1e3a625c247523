"""Fifth-wave coverage: deterministic mode, URL parsing, and calendar
densification (temporal gap-fill) — the remaining everyday-ETL shapes.

Contract keys: ``agg_mode``, ``fn_url``, ``cal_densify``,
``fn_decimal``, ``fn_try``, ``agg_hll_merge``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


@query(
    "agg_mode",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_quantity, count(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    r AS (
      SELECT l_returnflag, l_quantity, n,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, l_quantity) AS rk
      FROM c
    )
    SELECT l_returnflag, l_quantity AS mode_qty, CAST(n AS BIGINT) AS n_occurs
    FROM r WHERE rk = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode per group: most frequent value with a
    smallest-value tiebreak. Built as count + top-1 window instead of
    the native mode() aggregate, whose tie choice is engine-dependent
    — the composition is portable and plans as two partial-agg
    shuffles plus a WindowGroupLimit."""
    li = table(spark, sf_dir, "lineitem")
    c = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("n"))
    w = W.partitionBy("l_returnflag").orderBy(F.col("n").desc(), "l_quantity")
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("n").alias("n_occurs"),
        )
    )


@query(
    "fn_url",
    oracle="""
    SELECT doc_id,
           source || '.example.com' AS host,
           '/docs/' || CAST(doc_id AS VARCHAR) AS path,
           lang AS qparam
    FROM documents
    """,
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing (F1 adjunct): build a URL from columns, then take
    it apart with parse_url (HOST / PATH / QUERY-with-key). The oracle
    reconstructs the ground truth directly from the source columns, so
    any parse_url deviation fails the hash."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?k="),
        F.col("lang"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("k")).alias("qparam"),
    )


@query(
    "cal_densify",
    oracle="""
    SELECT o_orderkey,
           unnest(generate_series(o_orderdate,
                                  o_orderdate + INTERVAL 3 DAY,
                                  INTERVAL 1 DAY)) AS day
    FROM orders
    WHERE o_orderkey % 97 = 0
    """,
)
def cal_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification / gap-fill: explode each order into one
    row per day of a 4-day horizon via sequence() — the building block
    for as-of backfills and daily snapshots. Generation is per-row
    (no join against a calendar table, no shuffle)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    return o.select(
        "o_orderkey",
        F.explode(
            F.expr(
                "sequence(o_orderdate, o_orderdate + INTERVAL 3 DAY,"
                " INTERVAL 1 DAY)"
            )
        ).alias("day"),
    )


@query(
    "fn_decimal",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
             AS sum_price,
           min(CAST(l_extendedprice AS DECIMAL(18,2))) AS min_price,
           max(CAST(l_extendedprice AS DECIMAL(18,2))) AS max_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2))
             AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def fn_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decimal money math (SURVEY §1.3): cast the double prices
    to DECIMAL(18,2) once at the scan, aggregate in decimal (exact, no
    float drift), cast the widened sum back to the declared scale.
    Half-way rounding never diverges between engines here because no
    binary double lands exactly on a .xx5 boundary."""
    li = table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    return li.groupBy("l_returnflag").agg(
        F.sum(price).cast("decimal(18,2)").alias("sum_price"),
        F.min(price).alias("min_price"),
        F.max(price).alias("max_price"),
        F.sum(qty).cast("decimal(18,2)").alias("sum_qty"),
    )


@query(
    "fn_try",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_linenumber - l_linenumber = 0 THEN NULL
                ELSE l_quantity / (l_linenumber - l_linenumber) END AS div0,
           TRY_CAST(l_returnflag AS INTEGER) AS bad_parse,
           TRY_CAST(CAST(l_linenumber AS VARCHAR) AS INTEGER) AS good_parse
    FROM lineitem
    WHERE l_orderkey % 101 = 0
    """,
)
def fn_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression family: try_divide by zero and try_cast
    of unparseable strings yield NULL instead of failing the job — the
    behavior a 100 TB pipeline needs (one dirty row must not kill a
    stage). Oracle expresses the same semantics with CASE/TRY_CAST."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 101 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("try_divide(l_quantity, l_linenumber - l_linenumber)").alias("div0"),
        F.expr("try_cast(l_returnflag AS int)").alias("bad_parse"),
        F.expr("try_cast(cast(l_linenumber AS string) AS int)").alias("good_parse"),
    )


@query("agg_hll_merge")  # rows-only: sketch estimates are engine-specific
def agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Datasketches, Spark 3.5+): per-group
    distinct-customer sketches merged into a global estimate — THE
    100 TB cardinality pattern (sketch per partition/day once, merge
    forever after; never re-scan raw data for a rollup). The merged
    estimate equals the flat estimate and lands within 5% of exact
    (unit-tested); rows-only here since sketch internals are
    engine-specific."""
    o = table(spark, sf_dir, "orders")
    per_group = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.count("*").alias("n_orders"),
    )
    return per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_distinct_custs"),
        F.sum("n_orders").alias("n_orders"),
    )
