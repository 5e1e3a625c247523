"""Contract keys: ``profile_lineitem``, ``dq_check``, ``events_rfm``.

Data profiling, data-quality violation reporting,
RFM segmentation — the ETL-framework operational surface (what the
reference family's validation steps report on), as contract keys.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_PROF_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]


@query(
    "profile_lineitem",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name, count(*) AS n_rows,
               count(*) - count({c}) AS n_nulls,
               count(DISTINCT {c}) AS n_distinct
        FROM lineitem"""
        for c in _PROF_COLS
    ),
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profile: per-column null and distinct counts — the first
    thing a pipeline runs on a new 100 TB source.

    r11 optimization: one groupBy per column instead of a single
    9-way multi-distinct aggregate. The multi-distinct form expands
    every input row 10× (one replica per grouping set) and shuffles
    the expanded frame — measured 2.90 s at sf0.1; nine independent
    single-column rollups measure 0.65 s, value-identical. The scan
    cost does NOT multiply: parquet is columnar, so each rollup reads
    only its own column's bytes — nine pruned scans ≈ one full-width
    scan — and each shuffle is a partial-aggregated (value, count)
    stream bounded by the column's cardinality, not the row count.
    n_distinct = count of non-null groups; n_nulls = the null group's
    count; n_rows = Σ group counts — same integers as the one-pass
    form (A/B: sorted collects equal)."""
    li = table(spark, sf_dir, "lineitem")
    parts = []
    for c in _PROF_COLS:
        g = li.groupBy(c).agg(F.count(F.lit(1)).alias("__n"))
        parts.append(
            g.agg(
                F.lit(c).alias("col_name"),
                F.sum("__n").alias("n_rows"),
                F.coalesce(
                    F.sum(F.when(F.col(c).isNull(), F.col("__n"))), F.lit(0)
                ).alias("n_nulls"),
                F.count(F.col(c)).alias("n_distinct"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "dq_check",
    oracle="""
    SELECT 'orders_null_custkey' AS rule, count(*) AS n_violations
    FROM orders WHERE o_custkey IS NULL
    UNION ALL
    SELECT 'orders_nonpositive_price', count(*)
    FROM orders WHERE o_totalprice <= 0
    UNION ALL
    SELECT 'lineitem_discount_range', count(*)
    FROM lineitem WHERE l_discount < 0 OR l_discount > 0.1
    UNION ALL
    SELECT 'lineitem_ship_before_order', count(*)
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate < o_orderdate
    UNION ALL
    SELECT 'orders_orphan_customer', count(*)
    FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    """,
)
def dq_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report: each rule contributes one
    (rule, n_violations) row — null checks, range checks, cross-table
    temporal sanity, referential orphans. The same rules drive the
    pipeline `validate` step (pipeline.py); this key makes the report
    itself oracle-checked. Each rule is an independent filter/anti-join
    the optimizer can schedule; nothing materializes more than a
    count."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cust = table(spark, sf_dir, "customer")

    def one(rule: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n_violations")).select(
            F.lit(rule).alias("rule"), "n_violations"
        )

    ship_late = li.join(o, F.col("o_orderkey") == F.col("l_orderkey")).filter(
        F.col("l_shipdate") < F.col("o_orderdate")
    )
    orphans = o.join(
        cust, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    )
    parts = [
        one("orders_null_custkey", o.filter(F.col("o_custkey").isNull())),
        one("orders_nonpositive_price", o.filter(F.col("o_totalprice") <= 0)),
        one(
            "lineitem_discount_range",
            li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)),
        ),
        one("lineitem_ship_before_order", ship_late),
        one("orders_orphan_customer", orphans),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "events_rfm",
    oracle="""
    WITH mx AS (SELECT max(date_trunc('second', ts)) AS now FROM events),
    per_user AS (
      SELECT user_id,
             date_diff('second', max(date_trunc('second', ts)),
                       (SELECT now FROM mx)) AS recency_s,
             count(*) AS frequency,
             round(sum(value), 4) AS monetary
      FROM events GROUP BY user_id),
    scored AS (
      SELECT user_id, recency_s, frequency, monetary,
             ntile(4) OVER (ORDER BY recency_s, user_id) AS r_quartile,
             ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_quartile,
             ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_quartile
      FROM per_user)
    SELECT user_id, recency_s, frequency, monetary,
           r_quartile, f_quartile, m_quartile
    FROM scored
    """,
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency/frequency/monetary rollup,
    then quartile scores via tie-broken ntile. The per-user agg is the
    only fact-sized shuffle; the quartile windows run over |users|
    rows. ntile with a unique tiebreak is deterministic across
    engines (SURVEY.md §5.3 rule 2)."""
    ev = table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    mx = ev.agg(F.max("tts").alias("now"))
    per_user = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            (
                F.unix_timestamp(F.max("tts")) * -1
                + F.unix_timestamp(F.first("now"))
            ).alias("recency_s"),
            F.count("*").alias("frequency"),
            F.round(F.sum("value"), 4).alias("monetary"),
        )
    )
    return per_user.select(
        "user_id",
        "recency_s",
        "frequency",
        "monetary",
        F.ntile(4).over(W.orderBy("recency_s", "user_id")).alias("r_quartile"),
        F.ntile(4)
        .over(W.orderBy(F.col("frequency").desc(), "user_id"))
        .alias("f_quartile"),
        F.ntile(4)
        .over(W.orderBy(F.col("monetary").desc(), "user_id"))
        .alias("m_quartile"),
    )
