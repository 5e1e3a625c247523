"""Contract keys: ``stats_ci_method_audit``, ``graph_modularity``,
``vec_label_text_alignment``.

CI method audit, graph modularity, and the
text-embedding alignment check.

Reference parity: the reference's interval-method comparison, its
community-quality score, and its cross-modal consistency probe —
re-expressed as per-nation Wald/Wilson intervals, the e_ii − a_i²
partition sum, and a doc↔vector join with a closed-form
correlation.

Scale notes:

- ``stats_ci_method_audit``: per-nation counts → row-local interval
  algebra.
- ``graph_modularity``: edge and degree rollups keyed by the
  partition label — no pair join.
- ``vec_text_norm_correlation``: one id equi-join between the two
  modality tables + five scalar sums.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.graph import token_adjacency
from etl_framework_spark.operators.rounding import q6

_Z = 1.959963984540054  # 97.5% normal quantile


# --------------------------------------------------------------------------
# CI method audit: Wald vs Wilson on per-nation return rates
# --------------------------------------------------------------------------
@query(
    "stats_ci_method_audit",
    oracle=f"""
    WITH base AS (
      SELECT s.s_nationkey AS nation,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    ),
    g AS (
      SELECT nation, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(bad) AS DOUBLE) AS x
      FROM base GROUP BY nation
    ),
    ci AS (
      SELECT nation, n, x, x / n AS p,
             x / n - {_Z} * sqrt(x / n * (1 - x / n) / n) AS wald_lo,
             x / n + {_Z} * sqrt(x / n * (1 - x / n) / n) AS wald_hi,
             (x + {_Z * _Z} / 2) / (n + {_Z * _Z})
               - {_Z} / (n + {_Z * _Z})
                 * sqrt(x * (n - x) / n + {_Z * _Z} / 4) AS wil_lo,
             (x + {_Z * _Z} / 2) / (n + {_Z * _Z})
               + {_Z} / (n + {_Z * _Z})
                 * sqrt(x * (n - x) / n + {_Z * _Z} / 4) AS wil_hi
      FROM g
    )
    SELECT CAST(count(*) AS BIGINT) AS n_nations,
           floor(avg(wald_hi - wald_lo) * 1000000 + 0.5) / 1000000
             AS mean_wald_width,
           floor(avg(wil_hi - wil_lo) * 1000000 + 0.5) / 1000000
             AS mean_wilson_width,
           CAST(sum(CASE WHEN wald_lo < 0 OR wald_hi > 1
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS wald_boundary_violations,
           CAST(sum(CASE WHEN wil_lo < 0 OR wil_hi > 1
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS wilson_boundary_violations
    FROM ci
    """,
)
def stats_ci_method_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-method audit on per-nation return rates: mean Wald
    vs Wilson 95% CI widths and the count of intervals that escape
    [0, 1]. Wald intervals leak outside the unit interval and
    undercover at small n — the audit quantifies how often THIS
    data trips that, which is the evidence a dashboard needs before
    standardizing on Wilson. Per-nation counts → row-local interval
    algebra, integer-exact inputs. Ref: reference interval tests
    (cf. stats_rate_ci for one interval, stats_median_ci for the
    order-statistic analogue)."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    base = li.join(sup, li.l_suppkey == sup.s_suppkey).select(
        F.col("s_nationkey").alias("nation"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("bad"),
    )
    g = base.groupBy("nation").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("bad").cast("double").alias("x"),
    )
    n, x = F.col("n"), F.col("x")
    p = x / n
    z2 = _Z * _Z
    wald_lo = p - _Z * F.sqrt(p * (1 - p) / n)
    wald_hi = p + _Z * F.sqrt(p * (1 - p) / n)
    wc = (x + z2 / 2) / (n + z2)
    wr = _Z / (n + z2) * F.sqrt(x * (n - x) / n + z2 / 4)
    ci = g.select(
        (wald_hi - wald_lo).alias("wald_w"),
        (2 * wr).alias("wil_w"),
        ((wald_lo < 0) | (wald_hi > 1)).alias("wald_viol"),
        (((wc - wr) < 0) | ((wc + wr) > 1)).alias("wil_viol"),
    )
    return ci.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nations"),
        q6(F.avg("wald_w")).alias("mean_wald_width"),
        q6(F.avg("wil_w")).alias("mean_wilson_width"),
        F.sum(F.when(F.col("wald_viol"), 1).otherwise(0))
        .cast("bigint")
        .alias("wald_boundary_violations"),
        F.sum(F.when(F.col("wil_viol"), 1).otherwise(0))
        .cast("bigint")
        .alias("wilson_boundary_violations"),
    )


# --------------------------------------------------------------------------
# Modularity of the first-letter partition of the token graph
# --------------------------------------------------------------------------
@query(
    "graph_modularity",
    oracle="""
    WITH t AS (SELECT string_split(text, ' ') AS l FROM documents
               WHERE len(string_split(text, ' ')) >= 2),
    adj AS (
      SELECT least(l[i], l[i + 1]) AS a, greatest(l[i], l[i + 1]) AS b
      FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i FROM t)
      WHERE l[i] <> l[i + 1]
    ),
    edges AS (SELECT DISTINCT a, b FROM adj),
    m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM edges),
    within AS (
      SELECT substr(a, 1, 1) AS com, CAST(count(*) AS DOUBLE) AS e_in
      FROM edges WHERE substr(a, 1, 1) = substr(b, 1, 1)
      GROUP BY com
    ),
    degsum AS (
      SELECT substr(node, 1, 1) AS com,
             CAST(count(*) AS DOUBLE) AS dsum
      FROM (SELECT a AS node FROM edges
            UNION ALL SELECT b AS node FROM edges)
      GROUP BY com
    ),
    q AS (
      SELECT d.com,
             coalesce(w.e_in, 0) / m.m AS eii,
             (d.dsum / (2 * m.m)) * (d.dsum / (2 * m.m)) AS ai2
      FROM degsum d LEFT JOIN within w ON d.com = w.com CROSS JOIN m
    )
    SELECT CAST(count(*) AS BIGINT) AS n_communities,
           floor(sum(eii) * 1000000 + 0.5) / 1000000 AS within_edge_share,
           floor(sum(eii - ai2) * 1000000 + 0.5) / 1000000 AS modularity_q
    FROM q
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q = Σ(e_ii − a_i²) of the token graph under
    the first-letter partition: does the candidate community
    assignment beat the degree-preserving random baseline? Q ≈ 0
    says the partition is no better than chance (as a first-letter
    split should be on this corpus) — exactly the null a community
    pipeline must verify its scorer against before trusting positive
    Qs. Edge and degree rollups keyed by community — never a pair
    join. Integer counts → exact. Ref: reference community-quality
    tests (cf. graph_clustering_coeff, llm_cluster_purity for the
    supervised analogue)."""
    docs = table(spark, sf_dir, "documents")
    edges = token_adjacency(docs)
    m = edges.agg(F.count(F.lit(1)).cast("double").alias("m"))
    within = (
        edges.filter(
            F.substring(F.col("a"), 1, 1) == F.substring(F.col("b"), 1, 1)
        )
        .groupBy(F.substring(F.col("a"), 1, 1).alias("com"))
        .agg(F.count(F.lit(1)).cast("double").alias("e_in"))
    )
    degsum = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy(F.substring(F.col("node"), 1, 1).alias("com"))
        .agg(F.count(F.lit(1)).cast("double").alias("dsum"))
    )
    q = (
        degsum.join(within, "com", "left")
        .crossJoin(F.broadcast(m))
        .select(
            (F.coalesce(F.col("e_in"), F.lit(0.0)) / F.col("m")).alias("eii"),
            (
                (F.col("dsum") / (2 * F.col("m")))
                * (F.col("dsum") / (2 * F.col("m")))
            ).alias("ai2"),
        )
    )
    return q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        q6(F.sum("eii")).alias("within_edge_share"),
        q6(F.sum(F.col("eii") - F.col("ai2"))).alias("modularity_q"),
    )


# --------------------------------------------------------------------------
# Cross-modal alignment: does embedding norm track text length?
# --------------------------------------------------------------------------
@query(
    "vec_label_text_alignment",
    oracle="""
    WITH j AS (
      SELECT e.label, d.lang
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    cell AS (
      SELECT label, lang, CAST(count(*) AS DOUBLE) AS n
      FROM j GROUP BY label, lang
    ),
    rm AS (SELECT label, sum(n) AS rn FROM cell GROUP BY label),
    cm AS (SELECT lang, sum(n) AS cn FROM cell GROUP BY lang),
    tot AS (SELECT sum(n) AS t,
                   CAST(count(DISTINCT label) AS DOUBLE) AS r,
                   CAST(count(DISTINCT lang) AS DOUBLE) AS c
            FROM cell),
    chi AS (
      SELECT sum((cell.n - rm.rn * cm.cn / tot.t)
                 * (cell.n - rm.rn * cm.cn / tot.t)
                 / (rm.rn * cm.cn / tot.t)) AS chi2
      FROM cell JOIN rm ON cell.label = rm.label
      JOIN cm ON cell.lang = cm.lang CROSS JOIN tot
    )
    SELECT CAST(tot.t AS BIGINT) AS n_joined,
           CAST(tot.r AS BIGINT) AS n_labels,
           CAST(tot.c AS BIGINT) AS n_langs,
           floor(chi.chi2 * 10000 + 0.5) / 10000 AS chi2,
           floor(sqrt(chi.chi2 / (tot.t * least(tot.r - 1, tot.c - 1)))
                 * 1000000 + 0.5) / 1000000 AS cramers_v
    FROM tot CROSS JOIN chi
    """,
)
def vec_label_text_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal consistency: Cramér's V between the embedding
    cluster LABEL and the document's LANGUAGE tag (joined on
    doc_id = vec_id). If the encoder's clusters encode language
    (common and usually unwanted for semantic dedup), V is large
    and cross-lingual near-dups will never meet in the same cell;
    V ≈ 0 certifies language-neutral clusters. One modality join +
    one contingency rollup; integer counts → exact χ². Ref:
    reference cross-modal tests (cf. stats_cramers_v for the
    statistic, llm_cluster_purity for the within-modality twin)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    j = docs.join(emb, "doc_id")
    cell = j.groupBy("label", "lang").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    rm = cell.groupBy("label").agg(F.sum("n").alias("rn"))
    cm = cell.groupBy("lang").agg(F.sum("n").alias("cn"))
    tot = cell.agg(
        F.sum("n").alias("t"),
        F.count_distinct("label").cast("double").alias("r"),
        F.count_distinct("lang").cast("double").alias("c"),
    )
    e = F.col("rn") * F.col("cn") / F.col("t")
    chi = (
        cell.join(F.broadcast(rm), "label")
        .join(F.broadcast(cm), "lang")
        .crossJoin(F.broadcast(tot))
        .agg(F.sum((F.col("n") - e) * (F.col("n") - e) / e).alias("chi2"))
    )
    out = tot.crossJoin(F.broadcast(chi))
    return out.select(
        F.col("t").cast("bigint").alias("n_joined"),
        F.col("r").cast("bigint").alias("n_labels"),
        F.col("c").cast("bigint").alias("n_langs"),
        (F.floor(F.col("chi2") * 10000.0 + 0.5) / 10000.0).alias("chi2"),
        (
            F.floor(
                F.sqrt(
                    F.col("chi2")
                    / (F.col("t") * F.least(F.col("r") - 1, F.col("c") - 1))
                )
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("cramers_v"),
    )
