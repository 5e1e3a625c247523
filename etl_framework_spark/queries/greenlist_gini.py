"""Contract keys: ``llm_greenlist_bias``, ``graph_degree_gini``,
``dq_string_hygiene``.

Greenlist watermark bias, degree Gini, and
string hygiene.

Reference parity: the reference's watermark/bias detector, its
degree-inequality summary, and its string-cleanliness rules —
re-expressed as per-doc binomial z-scores over a hash greenlist, a
sorted-cumulative Gini, and conditional pattern counts.

Scale notes:

- ``llm_greenlist_bias``: greenlist membership is a row-local hash
  parity; per-doc shares from one explode+rollup.
- ``graph_degree_gini``: Gini over |nodes| degrees via rank sums.
- ``dq_string_hygiene``: one conditional-count scan per table
  section, unioned.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.graph import token_adjacency


# --------------------------------------------------------------------------
# Greenlist bias: does any document over-use hash-"green" tokens?
# --------------------------------------------------------------------------
@query(
    "llm_greenlist_bias",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents
    ),
    flag AS (
      SELECT doc_id,
             CASE WHEN substr(md5(tk), 32, 1)
                       IN ('0','2','4','6','8','a','c','e')
                  THEN 1 ELSE 0 END AS g
      FROM tok
    ),
    d AS (
      SELECT doc_id, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(g) AS DOUBLE) AS ng
      FROM flag GROUP BY doc_id
    ),
    base AS (
      SELECT sum(ng) / sum(n) AS p0 FROM d
    ),
    z AS (
      SELECT d.doc_id, d.n, d.ng,
             (d.ng - d.n * base.p0)
               / sqrt(d.n * base.p0 * (1 - base.p0)) AS gz
      FROM d CROSS JOIN base WHERE d.n >= 20
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           floor((SELECT p0 FROM base) * 1000000 + 0.5) / 1000000
             AS corpus_green_share,
           CAST(sum(CASE WHEN gz > 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           floor(max(gz) * 10000 + 0.5) / 10000 AS max_z,
           floor(min(gz) * 10000 + 0.5) / 10000 AS min_z
    FROM z
    """,
)
def llm_greenlist_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenlist-bias scan (watermark detection, Kirchenbauer-style):
    partition the vocabulary by a hash parity into green/red, then
    z-score each document's green-token share against the CORPUS
    base rate under a binomial null. A watermarked generator
    systematically favors its greenlist — docs with z > 3 are
    candidates; on clean text the flag count should match the
    3-sigma tail. The greenlist is the parity of the token's LAST
    md5 hex digit — engine-neutral, so both engines score the
    identical partition. One explode + doc rollup. Ref: reference
    watermark-audit tests (cf. llm_charclass_profile,
    llm_fingerprint)."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tk")
    )
    # engine-neutral greenlist: parity of the token's last md5 hex digit
    flag = tok.select(
        "doc_id",
        F.when(
            F.substring(F.md5("tk"), 32, 1).isin(
                "0", "2", "4", "6", "8", "a", "c", "e"
            ),
            1,
        )
        .otherwise(0)
        .alias("g"),
    )
    d = flag.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("g").cast("double").alias("ng"),
    )
    base = d.agg((F.sum("ng") / F.sum("n")).alias("p0"))
    z = (
        d.crossJoin(F.broadcast(base))
        .filter(F.col("n") >= 20)
        .select(
            (
                (F.col("ng") - F.col("n") * F.col("p0"))
                / F.sqrt(F.col("n") * F.col("p0") * (1 - F.col("p0")))
            ).alias("gz"),
            "p0",
        )
    )
    return z.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.floor(F.max("p0") * 1000000.0 + 0.5) / 1000000.0).alias(
            "corpus_green_share"
        ),
        F.sum(F.when(F.col("gz") > 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
        (F.floor(F.max("gz") * 10000.0 + 0.5) / 10000.0).alias("max_z"),
        (F.floor(F.min("gz") * 10000.0 + 0.5) / 10000.0).alias("min_z"),
    )


# --------------------------------------------------------------------------
# Degree Gini of the token-adjacency graph
# --------------------------------------------------------------------------
@query(
    "graph_degree_gini",
    oracle="""
    WITH t AS (SELECT string_split(text, ' ') AS l FROM documents
               WHERE len(string_split(text, ' ')) >= 2),
    adj AS (
      SELECT least(l[i], l[i + 1]) AS a, greatest(l[i], l[i + 1]) AS b
      FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i FROM t)
      WHERE l[i] <> l[i + 1]
    ),
    edges AS (SELECT DISTINCT a, b FROM adj),
    deg AS (
      SELECT node, CAST(count(*) AS DOUBLE) AS d
      FROM (SELECT a AS node FROM edges
            UNION ALL SELECT b AS node FROM edges)
      GROUP BY node
    ),
    r AS (
      SELECT d, row_number() OVER (ORDER BY d, node) AS rk,
             CAST(count(*) OVER () AS DOUBLE) AS n,
             sum(d) OVER () AS s
      FROM deg
    )
    SELECT CAST(max(n) AS BIGINT) AS n_nodes,
           floor(max(s) / max(n) * 10000 + 0.5) / 10000 AS mean_degree,
           floor((2.0 * sum(rk * d) / (max(n) * max(s))
                  - (max(n) + 1) / max(n)) * 1000000 + 0.5) / 1000000
             AS degree_gini
    FROM r
    """,
)
def graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree Gini of the token-adjacency graph: inequality of the
    degree distribution via the rank formula G = 2Σr·d/(nS) −
    (n+1)/n on (degree, node)-sorted nodes. 0 = regular graph,
    →1 = a few hubs own all edges — the one-number scale-free
    summary that graph_degree_hist shows as a curve. One rank
    window over |nodes|; integer degrees → exact. Ref: reference
    degree-summary tests (cf. events_gini for the same math on
    revenue, graph_attack_robustness for the consequence)."""
    docs = table(spark, sf_dir, "documents")
    edges = token_adjacency(docs)
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    )
    wall = W.partitionBy()
    r = deg.select(
        "d",
        F.row_number().over(W.orderBy("d", "node")).alias("rk"),
        F.count(F.lit(1)).over(wall).cast("double").alias("n"),
        F.sum("d").over(wall).alias("s"),
    )
    return r.agg(
        F.max("n").cast("bigint").alias("n_nodes"),
        (F.floor(F.max("s") / F.max("n") * 10000.0 + 0.5) / 10000.0).alias(
            "mean_degree"
        ),
        (
            F.floor(
                (
                    2.0 * F.sum(F.col("rk") * F.col("d")) / (F.max("n") * F.max("s"))
                    - (F.max("n") + 1) / F.max("n")
                )
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("degree_gini"),
    )


# --------------------------------------------------------------------------
# String hygiene audit across text-bearing columns
# --------------------------------------------------------------------------
@query(
    "dq_string_hygiene",
    oracle="""
    SELECT 'part.p_name' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN p_name <> trim(p_name) THEN 1 ELSE 0 END)
                AS BIGINT) AS untrimmed,
           CAST(sum(CASE WHEN p_name LIKE '% ' || ' %' THEN 1 ELSE 0 END)
                AS BIGINT) AS double_spaced,
           CAST(sum(CASE WHEN length(p_name) = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS empty_strings,
           CAST(sum(CASE WHEN lower(p_name) <> p_name THEN 1 ELSE 0 END)
                AS BIGINT) AS has_uppercase
    FROM part
    UNION ALL
    SELECT 'documents.text',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN text <> trim(text) THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(sum(CASE WHEN text LIKE '% ' || ' %' THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(sum(CASE WHEN lower(text) <> text THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM documents
    ORDER BY column_name
    """,
)
def dq_string_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-hygiene audit over the text-bearing columns:
    untrimmed values, internal double spaces, empty strings, and
    case-mixing — the four cheap invariants whose violations break
    joins ('ACME ' ≠ 'ACME'), tokenizers (double spaces make empty
    tokens), and dedup (case mixing defeats exact hashing). One
    conditional scan per column, unioned. Ref: reference
    string-rule tests (cf. dq_check for the rule engine,
    llm_dedup_casefold for what case-mixing costs dedup)."""
    def audit(df, col, label):
        c = F.col(col)
        return df.agg(
            F.lit(label).alias("column_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(c != F.trim(c), 1).otherwise(0))
            .cast("bigint")
            .alias("untrimmed"),
            F.sum(F.when(c.like("%  %"), 1).otherwise(0))
            .cast("bigint")
            .alias("double_spaced"),
            F.sum(F.when(F.length(c) == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("empty_strings"),
            F.sum(F.when(F.lower(c) != c, 1).otherwise(0))
            .cast("bigint")
            .alias("has_uppercase"),
        )

    pt = table(spark, sf_dir, "part")
    docs = table(spark, sf_dir, "documents")
    return (
        audit(pt, "p_name", "part.p_name")
        .unionAll(audit(docs, "text", "documents.text"))
        .orderBy("column_name")
    )
