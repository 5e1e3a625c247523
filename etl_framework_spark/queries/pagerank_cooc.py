"""Contract keys: ``graph_pagerank``, ``llm_bigram_overlap_f1``,
``dq_fk_orphans``.

PageRank over the token co-occurrence graph,
ROUGE-2-style bigram overlap for near-dup evidence, and a
referential-integrity audit.

Scale notes:

- ``graph_pagerank``: 3 unrolled power iterations, each one
  equi-join (rank → out-edges) + one partial-agg shuffle on dst.
  Neighbor sums use the vec_pca_power trick — contributions quantized
  to 1e-12 and summed as BIGINT — so the result is bit-identical on
  any partitioning (no float-fold ambiguity), and the oracle can
  replay the exact arithmetic. At 1000 executors this is the
  standard Pregel-as-join pattern; the rank table is |V| rows and the
  join key is the edge src, so AQE handles hub skew.
- ``llm_bigram_overlap_f1``: candidate pairs come from an explode →
  equi-join on (lang, source, bigram) — zero-overlap pairs are never
  materialized (same shape as blocked_jaccard_pairs), and |A∩B|
  arrives as the join's group count, not an array intersect per pair.
- ``dq_fk_orphans``: four anti-join counts; each is a broadcast or
  shuffle anti-join on the FK — the cheapest possible referential
  audit, one output row per relationship at any scale.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.graph import token_adjacency
from etl_framework_spark.cacheutil import persist_tracked

_DAMP = 0.85
_ITERS = 3
_TOPN = 20
_F1_MIN = 0.5


# --------------------------------------------------------------------------
# PageRank — token co-occurrence graph, quantized-exact power iteration
# --------------------------------------------------------------------------
def _duck_pagerank() -> str:
    base = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    adj AS (
      SELECT least(l[i], l[i + 1]) AS a, greatest(l[i], l[i + 1]) AS b
      FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
            FROM t WHERE len(l) >= 2)
      WHERE l[i] <> l[i + 1]
    ),
    edges AS (SELECT DISTINCT a, b FROM adj),
    sym AS (SELECT a AS src, b AS dst FROM edges
            UNION ALL SELECT b AS src, a AS dst FROM edges),
    deg AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS d
            FROM sym GROUP BY src),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
    r0 AS (SELECT node, d, 1.0 / (SELECT n FROM nn) AS r FROM deg)
    """
    it = """,
    acc{i} AS (
      SELECT e.dst AS node,
             sum(CAST(floor(p.r / p.d * 1e12 + 0.5) AS BIGINT)) AS acc
      FROM sym e JOIN r{prev} p ON p.node = e.src GROUP BY e.dst),
    r{i} AS (
      SELECT g.node, g.d,
             (1.0 - {damp}) / (SELECT n FROM nn)
               + {damp} * (CAST(coalesce(a.acc, 0) AS DOUBLE) * 1e-12) AS r
      FROM deg g LEFT JOIN acc{i} a ON a.node = g.node)
    """
    sql = base
    for i in range(1, _ITERS + 1):
        sql += it.format(i=i, prev=i - 1, damp=_DAMP)
    sql += f"""
    SELECT node AS token, round(r, 10) AS pagerank, rnk FROM (
      SELECT node, r, row_number() OVER (ORDER BY r DESC, node) AS rnk
      FROM r{_ITERS})
    WHERE rnk <= {_TOPN}
    """
    return sql


@query("graph_pagerank", oracle=_duck_pagerank())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetrized token co-occurrence graph
    (graph_degree_hist's edge set), {_ITERS} power iterations at
    damping 0.85, reported as the top-{_TOPN} hub tokens. Pregel
    expressed as joins: each iteration is rank⋈edges (key = src) then
    a partial-agg on dst — the canonical scalable shape. The neighbor
    sum quantizes each contribution r/d to 1e-12 and accumulates as
    BIGINT, so every iteration is partition-order independent and the
    DuckDB oracle replays the arithmetic bit-for-bit (same trick as
    vec_pca_power). The symmetrized graph has no dangling nodes, so
    no teleport-mass correction is needed; rank mass stays ≈1 (tested
    in tests/test_extras34.py)."""
    d = table(spark, sf_dir, "documents")
    edges = token_adjacency(d)
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    sym = sym.transform(persist_tracked)
    deg = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("double").alias("d"))
        .transform(persist_tracked)
    )
    n = deg.count()  # also materializes deg/sym
    r = deg.select("node", "d", (F.lit(1.0) / F.lit(float(n))).alias("r"))
    for _ in range(_ITERS):
        contrib = sym.join(r, sym.src == r.node).select(
            F.col("dst").alias("node"),
            F.floor(F.col("r") / F.col("d") * 1e12 + 0.5)
            .cast("bigint")
            .alias("c"),
        )
        acc = contrib.groupBy("node").agg(F.sum("c").alias("acc"))
        r = deg.join(acc, "node", "left").select(
            "node",
            "d",
            (
                F.lit(1.0 - _DAMP) / F.lit(float(n))
                + F.lit(_DAMP)
                * (F.coalesce(F.col("acc"), F.lit(0)).cast("double") * F.lit(1e-12))
            ).alias("r"),
        )
    w = W.orderBy(F.col("r").desc(), "node")
    out = (
        r.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPN)
        .select(
            F.col("node").alias("token"),
            F.round("r", 10).alias("pagerank"),
            "rnk",
        )
    )
    return out


# --------------------------------------------------------------------------
# Bigram overlap F1 (ROUGE-2 flavored) for blocked near-dup candidates
# --------------------------------------------------------------------------
@query(
    "llm_bigram_overlap_f1",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, source, string_split(text, ' ') AS l
               FROM documents),
    bg AS (
      SELECT doc_id, lang, source,
             list_distinct(list_transform(
               generate_series(1, len(l) - 1),
               i -> l[i] || ' ' || l[i + 1])) AS bigs
      FROM t WHERE len(l) >= 2
    ),
    ex AS (SELECT doc_id, lang, source, unnest(bigs) AS big FROM bg),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM ex a JOIN ex b
        ON a.lang = b.lang AND a.source = b.source
       AND a.big = b.big AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, n_common,
           round(2.0 * n_common / (len(ba.bigs) + len(bb.bigs)), 6) AS f1
    FROM common
    JOIN bg ba ON ba.doc_id = id_a
    JOIN bg bb ON bb.doc_id = id_b
    WHERE 2.0 * n_common / (len(ba.bigs) + len(bb.bigs)) >= {_F1_MIN}
    """,
)
def llm_bigram_overlap_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-set overlap F1 (the set-level ROUGE-2 score) between
    (lang, source)-blocked document pairs, keeping pairs at F1 ≥ 0.5 —
    stronger near-dup evidence than unigram Jaccard because it demands
    shared ORDER, not just shared vocabulary. The pair generation is
    the blocked_jaccard_pairs shape: explode distinct bigrams and
    equi-join on (lang, source, bigram), so |A∩B| is a join-group
    count and zero-overlap pairs never exist anywhere in the plan;
    per-doc bigram-set sizes join back (small relation) to close the
    F1 = 2|A∩B|/(|A|+|B|) formula. All counts are integers — exact on
    any partitioning."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang", "source", F.split("text", " ").alias("l")
    ).filter(F.size("l") >= 2)
    bg = t.select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(
            F.zip_with(
                F.slice(F.col("l"), 1, F.size("l") - 1),
                F.slice(F.col("l"), 2, F.size("l") - 1),
                lambda x, y: F.concat_ws(" ", x, y),
            )
        ).alias("bigs"),
    ).transform(persist_tracked)
    ex = bg.select(
        "doc_id", "lang", "source", F.explode("bigs").alias("big")
    )
    a = ex.select(
        F.col("doc_id").alias("id_a"), "lang", "source", "big"
    )
    b = ex.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("big").alias("big_b"),
    )
    common = (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("source") == F.col("source_b"))
            & (F.col("big") == F.col("big_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    sizes = bg.select("doc_id", F.size("bigs").alias("nb"))
    f1 = 2.0 * F.col("n_common") / (F.col("na") + F.col("nb"))
    return (
        common.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("nb").alias("na")),
            "id_a",
        )
        .join(sizes.select(F.col("doc_id").alias("id_b"), "nb"), "id_b")
        .filter(f1 >= _F1_MIN)
        .select("id_a", "id_b", "n_common", F.round(f1, 6).alias("f1"))
    )


# --------------------------------------------------------------------------
# Referential-integrity audit — FK orphan counts across the schema
# --------------------------------------------------------------------------
@query(
    "dq_fk_orphans",
    oracle="""
    SELECT 'orders.o_custkey -> customer' AS fk,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (c.c_custkey IS NULL) AS BIGINT) AS n_orphans
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'lineitem.l_orderkey -> orders',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (o.o_orderkey IS NULL) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    UNION ALL
    SELECT 'lineitem.l_partkey -> part',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (p.p_partkey IS NULL) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
    UNION ALL
    SELECT 'customer.c_nationkey -> nation',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (n.n_nationkey IS NULL) AS BIGINT)
    FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    """,
)
def dq_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan-FK counts for the four
    schema relationships (orders→customer, lineitem→orders,
    lineitem→part, customer→nation) — the data-quality gate that runs
    before any star join is trusted, because a silent orphan rate
    turns every inner join downstream into a row-loss bug. Each check
    is one left join probing the PK side (dimension sides broadcast;
    the two fact-fact checks shuffle on the FK like the joins they
    protect) reduced to a single (total, orphans) row — constant
    output at any scale."""
    def audit(fact: DataFrame, fk: str, dim: DataFrame, pk: str, label: str):
        probe = dim.select(F.col(pk).alias("__pk")).distinct()
        return (
            fact.join(probe, fact[fk] == F.col("__pk"), "left")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.when(F.col("__pk").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
            )
            .select(F.lit(label).alias("fk"), "n_rows", "n_orphans")
        )

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    n = table(spark, sf_dir, "nation")
    return (
        audit(o, "o_custkey", c, "c_custkey", "orders.o_custkey -> customer")
        .unionAll(
            audit(l, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey -> orders")
        )
        .unionAll(audit(l, "l_partkey", p, "p_partkey", "lineitem.l_partkey -> part"))
        .unionAll(
            audit(c, "c_nationkey", n, "n_nationkey", "customer.c_nationkey -> nation")
        )
    )
