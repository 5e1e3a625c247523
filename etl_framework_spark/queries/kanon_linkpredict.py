"""Contract keys: ``dq_kanon``, ``graph_link_predict``.

Privacy auditing and graph link prediction.

Scale notes:

- ``dq_kanon``: k-anonymity / l-diversity audit over a
  quasi-identifier combination — one partial-agg shuffle to the QI
  group table (|distinct QI| rows), then a bounded rollup. The
  release gate every privacy review runs before data leaves the
  boundary.
- ``graph_link_predict``: neighbor-set Jaccard link prediction on
  the token co-occurrence graph — candidate pairs only where the
  two nodes share at least one neighbor (the wedge join), with a
  document-frequency-style degree cap bounding hub fan-out exactly
  like the winnowing/minhash bucket caps.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.graph import token_adjacency

_KANON_K = 5  # release threshold: groups smaller than k are risky
# Hub cap: drop nodes with more neighbors before the wedge join (the
# stopword-hub guard on real text). The synthetic vocab is ~31 tokens
# with min degree 15 — a near-complete graph — so the cap sits above
# its max degree here; the candidates are the few non-adjacent pairs.
_LP_MAX_DEG = 64
_LP_TOP = 25


# --------------------------------------------------------------------------
# Privacy — k-anonymity / l-diversity audit
# --------------------------------------------------------------------------
@query(
    "dq_kanon",
    oracle=f"""
    WITH qi AS (
      SELECT n.n_name AS nation, c.c_mktsegment AS segment,
             CAST(count(*) AS BIGINT) AS group_size,
             CAST(count(DISTINCT CAST(floor(c.c_acctbal / 1000)
                                      AS BIGINT)) AS BIGINT) AS l_div
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY nation, segment
    ),
    tot AS (SELECT CAST(sum(group_size) AS DOUBLE) AS n FROM qi)
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(group_size) AS BIGINT) AS min_group,
           CAST(sum(CASE WHEN group_size < {_KANON_K}
                         THEN group_size ELSE 0 END) AS BIGINT)
             AS rows_below_k,
           round(sum(CASE WHEN group_size < {_KANON_K}
                          THEN group_size ELSE 0 END) / tot.n, 6)
             AS frac_below_k,
           CAST(min(l_div) AS BIGINT) AS min_l_diversity,
           min(group_size) >= {_KANON_K} AS k_anonymous
    FROM qi CROSS JOIN tot
    GROUP BY tot.n
    """,
)
def dq_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy release audit: k-anonymity (k=5) over the
    (nation, market-segment) quasi-identifier combination, plus
    l-diversity of the binned account-balance 'sensitive' attribute —
    the minimum group size, the row mass re-identifiable below k, and
    the least-diverse group. One partial-agg shuffle to the QI group
    table; the report is one row at any scale. This is the gate a
    100 TB dataset passes before leaving the privacy boundary, as an
    oracle-checked operator rather than a notebook ritual."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    qi = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count("*").cast("bigint").alias("group_size"),
            F.countDistinct(
                F.floor(F.col("c_acctbal") / 1000).cast("bigint")
            )
            .cast("bigint")
            .alias("l_div"),
        )
    )
    tot = qi.agg(F.sum("group_size").cast("double").alias("n"))
    below = F.when(F.col("group_size") < _KANON_K, F.col("group_size")).otherwise(0)
    return (
        qi.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.min("group_size").cast("bigint").alias("min_group"),
            F.sum(below).cast("bigint").alias("rows_below_k"),
            F.round(F.sum(below) / F.first("n"), 6).alias("frac_below_k"),
            F.min("l_div").cast("bigint").alias("min_l_diversity"),
            (F.min("group_size") >= _KANON_K).alias("k_anonymous"),
        )
        .drop("n")
    )


# --------------------------------------------------------------------------
# Graph — neighbor-Jaccard link prediction (wedge join)
# --------------------------------------------------------------------------
@query(
    "graph_link_predict",
    oracle=f"""
    WITH t AS (SELECT string_split(text, ' ') AS l FROM documents
               WHERE len(string_split(text, ' ')) >= 2),
    adj AS (
      SELECT least(l[i], l[i + 1]) AS a, greatest(l[i], l[i + 1]) AS b
      FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i FROM t)
      WHERE l[i] <> l[i + 1]
    ),
    edges AS (SELECT DISTINCT a, b FROM adj),
    nbr AS (
      SELECT a AS node, b AS nb FROM edges
      UNION ALL SELECT b AS node, a AS nb FROM edges
    ),
    deg AS (SELECT node, count(*) AS d FROM nbr GROUP BY node),
    small AS (
      SELECT nbr.node, nbr.nb FROM nbr JOIN deg USING (node)
      WHERE d <= {_LP_MAX_DEG}
    ),
    wedges AS (
      SELECT x.node AS u, y.node AS v,
             CAST(count(*) AS DOUBLE) AS common
      FROM small x JOIN small y
        ON x.nb = y.nb AND x.node < y.node
      GROUP BY u, v
    ),
    scored AS (
      SELECT w.u, w.v, w.common,
             du.d AS deg_u, dv.d AS deg_v,
             round(w.common / (du.d + dv.d - w.common), 6) AS jaccard
      FROM wedges w
      JOIN deg du ON du.node = w.u
      JOIN deg dv ON dv.node = w.v
      WHERE NOT EXISTS (SELECT 1 FROM edges e
                        WHERE e.a = w.u AND e.b = w.v)
    )
    SELECT u, v, CAST(common AS BIGINT) AS common_neighbors,
           CAST(deg_u AS BIGINT) AS deg_u,
           CAST(deg_v AS BIGINT) AS deg_v, jaccard
    FROM scored
    ORDER BY jaccard DESC, u, v LIMIT {_LP_TOP}
    """,
)
def graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the token co-occurrence graph: neighbor-set
    Jaccard for NON-adjacent node pairs that share at least one
    neighbor (candidate generation is the wedge join through the
    shared-neighbor key — pairs never materialize unless a real wedge
    exists, the same candidate-bounding idea as LSH bands). Nodes
    above the degree cap are dropped before the wedge join — the
    policy that keeps stopword-hub fan-out from going quadratic on
    real text (the synthetic 31-token vocab is nearly complete, so
    the cap sits above its max degree here and the candidates are the
    handful of non-adjacent pairs). Scores are exact integer ratios;
    top-k under a total order."""
    d = table(spark, sf_dir, "documents")
    edges = token_adjacency(d)
    nbr = edges.select(F.col("a").alias("node"), F.col("b").alias("nb")).unionAll(
        edges.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    )
    deg = nbr.groupBy("node").agg(F.count("*").alias("d"))
    small = nbr.join(F.broadcast(deg), "node").filter(
        F.col("d") <= _LP_MAX_DEG
    ).select("node", "nb")
    x = small.select(F.col("node").alias("u"), "nb")
    y = small.select(F.col("node").alias("v"), F.col("nb").alias("nb2"))
    wedges = (
        x.join(y, (F.col("nb") == F.col("nb2")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count("*").cast("double").alias("common"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("deg_v"))
    nonadj = wedges.join(
        edges,
        (F.col("u") == F.col("a")) & (F.col("v") == F.col("b")),
        "left_anti",
    )
    scored = (
        nonadj.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            F.col("common").cast("bigint").alias("common_neighbors"),
            F.col("deg_u").cast("bigint").alias("deg_u"),
            F.col("deg_v").cast("bigint").alias("deg_v"),
            F.round(
                F.col("common")
                / (F.col("deg_u") + F.col("deg_v") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.col("jaccard").desc(), "u", "v").limit(_LP_TOP)
