"""Contract keys: ``llm_tfidf_cosine_pairs``, ``graph_clustering_coeff``.

Sparse TF-IDF cosine similarity and local
clustering structure.

Scale notes:

- ``llm_tfidf_cosine_pairs``: the SPARSE companion to the dense
  embedding cosine family — similarity in token space via an
  inverted-index self-join, so the dot product of a pair is a
  join-group sum over SHARED terms only and disjoint pairs never
  materialize (the same candidate-bounding as blocked_jaccard).
  At 100 TB this is the classic term-at-a-time batch similarity:
  shuffle keys are tokens (df-bounded), never pairs.
- ``graph_clustering_coeff``: per-node triangle counts via the
  oriented wedge join (u's neighbor pairs ⋈ edges) — each triangle
  counted once per corner, the standard distributed formulation;
  output folds into a 0.1-bucket histogram (constant size).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.graph import token_adjacency
from etl_framework_spark.cacheutil import persist_tracked

_COS_MIN = 0.8


# --------------------------------------------------------------------------
# Sparse TF-IDF cosine pairs — inverted-index similarity, no embeddings
# --------------------------------------------------------------------------
@query(
    "llm_tfidf_cosine_pairs",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, lang, source, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, lang, source,
                   unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY doc_id, lang, source, tok
    ),
    n_docs AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    df AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df
           FROM tf GROUP BY tok),
    w AS (
      SELECT t.doc_id, t.lang, t.source, t.tok,
             t.tf * ln((SELECT n FROM n_docs) / d.df) AS w
      FROM tf t JOIN df d ON d.tok = t.tok
    ),
    norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm
              FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
      FROM w a JOIN w b
        ON a.lang = b.lang AND a.source = b.source
       AND a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b
    )
    SELECT id_a, id_b,
           round(dot / (na.nrm * nb.nrm), 6) AS cos_tfidf
    FROM dots
    JOIN norms na ON na.doc_id = id_a
    JOIN norms nb ON nb.doc_id = id_b
    WHERE dot / (na.nrm * nb.nrm) >= {_COS_MIN}
    """,
)
def llm_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity between (lang, source)-blocked
    document pairs at cos ≥ {_COS_MIN} — token-space near-dup/alias
    detection that needs NO embeddings: rare shared terms dominate
    (IDF weighting), so it catches pairs that share distinctive
    vocabulary even when common words differ, the complement of both
    Jaccard (unweighted) and embedding cosine (dense). The dot
    product is an inverted-index self-join on (lang, source, token):
    shared terms become join groups, disjoint pairs never exist in
    the plan, and norms join back from a per-doc rollup. Weights are
    tf·ln(N/df) from integer counts — the only float aggregation is
    the per-pair term sum (rounded at 6)."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id", "lang", "source",
            F.explode(F.split("text", " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "lang", "source", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    n_docs = d.agg(F.count("*").cast("double").alias("n"))
    df = tf.groupBy("tok").agg(F.count("*").cast("double").alias("df"))
    w = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "lang", "source", "tok",
            (F.col("tf") * F.log(F.col("n") / F.col("df"))).alias("w"),
        )
        .transform(persist_tracked)
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a = w.select(
        F.col("doc_id").alias("id_a"), "lang", "source", "tok",
        F.col("w").alias("wa"),
    )
    b = w.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("tok").alias("tok_b"),
        F.col("w").alias("wb"),
    )
    dots = (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("source") == F.col("source_b"))
            & (F.col("tok") == F.col("tok_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        dots.join(
            norms.select(F.col("doc_id").alias("id_a"), F.col("nrm").alias("na")),
            "id_a",
        )
        .join(
            norms.select(F.col("doc_id").alias("id_b"), F.col("nrm").alias("nb")),
            "id_b",
        )
        .filter(cos >= _COS_MIN)
        .select("id_a", "id_b", F.round(cos, 6).alias("cos_tfidf"))
    )


# --------------------------------------------------------------------------
# Local clustering coefficient — wedge-closure histogram
# --------------------------------------------------------------------------
@query(
    "graph_clustering_coeff",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    adj AS (
      SELECT least(l[i], l[i + 1]) AS a, greatest(l[i], l[i + 1]) AS b
      FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
            FROM t WHERE len(l) >= 2)
      WHERE l[i] <> l[i + 1]
    ),
    edges AS (SELECT DISTINCT a, b FROM adj),
    sym AS (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b AS u, a AS v FROM edges),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d
            FROM sym GROUP BY u),
    wedge AS (
      SELECT s1.u AS node, s1.v AS x, s2.v AS y
      FROM sym s1 JOIN sym s2 ON s2.u = s1.u AND s1.v < s2.v
    ),
    tri AS (
      SELECT w.node, CAST(count(*) AS BIGINT) AS n_tri
      FROM wedge w JOIN edges e ON e.a = w.x AND e.b = w.y
      GROUP BY w.node
    ),
    coeff AS (
      SELECT d.node, d.d,
             CAST(2 * coalesce(t2.n_tri, 0) AS DOUBLE)
               / (d.d * (d.d - 1)) AS c
      FROM deg d LEFT JOIN tri t2 ON t2.node = d.node
      WHERE d.d >= 2
    )
    SELECT CAST(floor(c * 10) AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_nodes,
           round(avg(c), 6) AS avg_coeff,
           round(avg(d), 6) AS avg_degree
    FROM coeff GROUP BY bucket
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient of the token co-occurrence graph
    (graph_degree_hist's edge set): per node, the fraction of its
    neighbor pairs that are themselves connected — c(u) =
    2·T(u)/(d(u)·(d(u)−1)) — folded into a 0.1-bucket histogram with
    average degree per bucket. High-clustering hubs are phrase
    templates; near-zero clustering at high degree marks function
    words — structure that PageRank and degree alone can't see. The
    plan is the oriented wedge join (u's neighbor pairs ⋈ the
    canonical edge list), each triangle counted once per corner; the
    coefficient is an exact integer ratio, so bucket edges are
    deterministic on both engines."""
    d = table(spark, sf_dir, "documents")
    edges = token_adjacency(d).transform(persist_tracked)
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    s1 = sym.select("u", F.col("v").alias("x"))
    s2 = sym.select(F.col("u").alias("u2"), F.col("v").alias("y"))
    wedge = s1.join(
        s2, (F.col("u2") == F.col("u")) & (F.col("x") < F.col("y"))
    ).select(F.col("u").alias("node"), "x", "y")
    tri = (
        wedge.join(
            edges, (edges.a == F.col("x")) & (edges.b == F.col("y"))
        )
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("n_tri"))
    )
    coeff = (
        deg.filter(F.col("d") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "d",
            (
                (2 * F.coalesce(F.col("n_tri"), F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1))
            ).alias("c"),
        )
    )
    return (
        coeff.withColumn("bucket", F.floor(F.col("c") * 10).cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.round(F.avg("c"), 6).alias("avg_coeff"),
            F.round(F.avg("d"), 6).alias("avg_degree"),
        )
    )
