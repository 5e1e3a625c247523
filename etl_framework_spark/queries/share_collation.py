"""Contract keys: ``win_share_of_total``, ``fn_collation``,
``graph_degree_hist``.

BI share-of-total windows, Spark-4 collation
semantics, and graph degree distributions.

Scale notes:

- ``win_share_of_total``: percent-of-total inside a partition is one
  unbounded-frame window over the AGGREGATED (nation × month) rollup
  — the window never sees fact rows; money math in exact
  DECIMAL(18,2) so shares are order-independent.
- ``fn_collation``: Spark 4 collated comparisons (UTF8_LCASE) —
  case-insensitive grouping happens JVM-side in the collation-aware
  hash, mirrored by the oracle's lower() normalization; counts are
  exact.
- ``graph_degree_hist``: degree distribution of the token
  co-occurrence graph — edges from within-doc adjacent-token pairs,
  degree = distinct neighbors, then a |degrees|-row histogram; the
  canonical a<b edge orientation halves the shuffle and the
  histogram is bounded by max degree, not corpus size.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.graph import token_adjacency


# --------------------------------------------------------------------------
# BI — share of total within partition (ratio_to_report)
# --------------------------------------------------------------------------
@query(
    "win_share_of_total",
    oracle="""
    WITH monthly AS (
      SELECT n.n_name AS nation,
             date_trunc('month', o.o_orderdate) AS month,
             sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY nation, month
    )
    SELECT nation, month, revenue,
           round(CAST(revenue AS DOUBLE)
                 / CAST(sum(revenue) OVER (PARTITION BY nation) AS DOUBLE),
                 6) AS share_of_nation,
           round(CAST(revenue AS DOUBLE)
                 / CAST(sum(revenue) OVER (PARTITION BY month) AS DOUBLE),
                 6) AS share_of_month
    FROM monthly
    """,
)
def win_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (Oracle's ratio_to_report) along two axes at
    once: each (nation, month) revenue cell's share of its nation's
    total and of its month's total — the denominator windows run over
    the |nations|×|months| rollup, never over fact rows. Revenue
    accumulates in DECIMAL(18,2) (exact, order-independent), and the
    share divides two exact decimals, so the 6-dp rounding is safe at
    any parallelism."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "revenue"
            )
        )
    )
    wn = W.partitionBy("nation")
    wm = W.partitionBy("month")
    rev = F.col("revenue").cast("double")
    return monthly.select(
        "nation",
        "month",
        "revenue",
        F.round(rev / F.sum("revenue").over(wn).cast("double"), 6).alias(
            "share_of_nation"
        ),
        F.round(rev / F.sum("revenue").over(wm).cast("double"), 6).alias(
            "share_of_month"
        ),
    )


# --------------------------------------------------------------------------
# Spark 4 collations — case-insensitive comparison semantics
# --------------------------------------------------------------------------
@query(
    "fn_collation",
    oracle="""
    WITH mixed AS (
      SELECT p_type AS t FROM part
      UNION ALL
      SELECT lower(p_type) FROM part
      UNION ALL
      SELECT concat(upper(substr(p_type, 1, 1)), lower(substr(p_type, 2)))
      FROM part
    )
    SELECT lower(t) AS type_ci,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT t) AS BIGINT) AS n_case_variants
    FROM mixed GROUP BY type_ci
    """,
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation semantics: the same strings in three case
    styles (UPPER original, lower, Initcap) grouped under the
    UTF8_LCASE collation — grouping happens in the collation-aware
    JVM hash, no manual normalization in the grouping key; the
    lower() projection exists only to give the group a stable display
    key, and the binary-collated variant count shows what the
    case-insensitive group absorbed. Oracle normalizes with lower()
    — the pre-collation idiom — proving the two formulations agree."""
    p = table(spark, sf_dir, "part")
    mixed = (
        p.select(F.col("p_type").alias("t"))
        .unionAll(p.select(F.lower("p_type").alias("t")))
        .unionAll(p.select(F.initcap(F.lower("p_type")).alias("t")))
    )
    ci = mixed.select(F.collate(F.col("t"), "UTF8_LCASE").alias("t_ci"), "t")
    return ci.groupBy("t_ci").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct(F.collate(F.col("t"), "UTF8_BINARY"))
        .cast("bigint")
        .alias("n_case_variants"),
    ).select(
        F.lower(F.col("t_ci")).alias("type_ci"), "n_rows", "n_case_variants"
    )


# --------------------------------------------------------------------------
# Graph — degree distribution of the token co-occurrence graph
# --------------------------------------------------------------------------
@query(
    "graph_degree_hist",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    adj AS (
      SELECT least(l[i], l[i + 1]) AS a, greatest(l[i], l[i + 1]) AS b
      FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
            FROM t WHERE len(l) >= 2)
      WHERE l[i] <> l[i + 1]
    ),
    edges AS (SELECT DISTINCT a, b FROM adj),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT a AS node FROM edges
            UNION ALL SELECT b AS node FROM edges)
      GROUP BY node
    )
    SELECT degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the token co-occurrence graph
    (``operators.graph.token_adjacency``: adjacent tokens within a
    document, canonical a<b orientation, self-loops dropped): tokens
    per degree bucket — the structural companion to
    graph_triangles and the first thing to read before running any
    graph algorithm at scale (a power-law tail means the hub nodes
    need special handling). Edges dedup once on (a, b); degrees are
    one count per node over the symmetrized edge list; the histogram
    output is bounded by max degree regardless of corpus size."""
    d = table(spark, sf_dir, "documents")
    edges = token_adjacency(d)
    nodes = edges.select(F.col("a").alias("node")).unionAll(
        edges.select(F.col("b").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count("*").cast("bigint").alias("degree"))
    return deg.groupBy("degree").agg(
        F.count("*").cast("bigint").alias("n_nodes")
    )
