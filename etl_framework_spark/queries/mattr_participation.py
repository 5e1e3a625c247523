"""Contract keys: ``llm_mattr``, ``llm_position_bias``,
``vec_participation_ratio``.

Lexical diversity, positional template bias,
and embedding intrinsic dimensionality.

Reference parity: the reference's corpus-quality analyzers — lexical
diversity (MATTR), template/boilerplate detection (head-vs-tail
token bias), and the embedding-space capacity probe (participation
ratio) — re-expressed as row-local array folds and per-dim rollups.

Scale notes:

- ``llm_mattr``: every sliding-window distinct count is ROW-LOCAL
  (transform over the token array) — no explode, no self-join; the
  per-doc work is O(n_tokens × window) inside one task.
- ``llm_position_bias``: two bounded explodes (first/last 10 tokens
  per doc) → token rollups; the join is vocabulary-sized.
- ``vec_participation_ratio``: one posexplode → 64-group variance
  rollup; variances are grid-quantized before the PR ratio so both
  engines divide identical doubles.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_W = 25  # MATTR window (tokens)
_HT = 10  # head/tail span (tokens)


# --------------------------------------------------------------------------
# MATTR: moving-average type-token ratio, the stable diversity score
# --------------------------------------------------------------------------
@query(
    "llm_mattr",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    m AS (
      SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
             CAST(n - {_W} + 1 AS BIGINT) AS n_windows,
             list_sum(list_transform(range(1, n - {_W} + 2),
               s -> len(list_distinct(list_slice(toks, s, s + {_W} - 1)))))
               AS dsum,
             len(list_distinct(toks)) AS n_types
      FROM t WHERE n >= {_W}
    )
    SELECT doc_id, n_tokens, n_windows,
           round(CAST(dsum AS DOUBLE) / ({_W}.0 * n_windows), 6) AS mattr,
           round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr_full
    FROM m ORDER BY mattr, doc_id LIMIT 10
    """,
)
def llm_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-Average Type-Token Ratio (window 25) — the
    length-invariant lexical-diversity score: average over all
    sliding windows of (distinct tokens / 25), shown for the 10
    LEAST diverse documents next to the raw (length-biased) TTR.
    Low MATTR = repetitive/templated text, the classic
    low-quality-for-training signal that raw TTR misses on long
    docs. Every window count is a row-local array op (transform +
    array_distinct + slice) — zero shuffle beyond the final top-k;
    integer counts → bit-exact. Ref: reference lexical-diversity
    tests (cf. llm_hapax_ratio, llm_repetition)."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("toks"),
        F.size(F.split(F.col("text"), " ")).alias("n"),
    ).filter(F.col("n") >= _W)
    dsum = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.col("n") - _W + 1),
            lambda s: F.size(F.array_distinct(F.slice(F.col("toks"), s, _W))),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    m = t.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        (F.col("n") - _W + 1).cast("bigint").alias("n_windows"),
        dsum.alias("dsum"),
        F.size(F.array_distinct(F.col("toks"))).alias("n_types"),
    )
    return (
        m.select(
            "doc_id",
            "n_tokens",
            "n_windows",
            F.round(
                F.col("dsum").cast("double") / (float(_W) * F.col("n_windows")), 6
            ).alias("mattr"),
            F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 6).alias(
                "ttr_full"
            ),
        )
        .orderBy("mattr", "doc_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Positional bias: tokens over-represented at document heads vs tails
# --------------------------------------------------------------------------
@query(
    "llm_position_bias",
    oracle=f"""
    WITH t AS (
      SELECT string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    head AS (
      SELECT unnest(list_slice(toks, 1, {_HT})) AS token FROM t
    ),
    tail AS (
      SELECT unnest(list_slice(toks, n - {_HT} + 1, n)) AS token FROM t
    ),
    hc AS (SELECT token, CAST(count(*) AS DOUBLE) AS h FROM head
           GROUP BY token),
    tc AS (SELECT token, CAST(count(*) AS DOUBLE) AS t FROM tail
           GROUP BY token),
    u AS (
      SELECT coalesce(hc.token, tc.token) AS token,
             coalesce(hc.h, 0.0) AS h, coalesce(tc.t, 0.0) AS t
      FROM hc FULL OUTER JOIN tc ON hc.token = tc.token
    ),
    tot AS (SELECT sum(h) AS ht, sum(t) AS tt,
                   CAST(count(*) AS DOUBLE) AS v FROM u)
    SELECT u.token,
           CAST(u.h AS BIGINT) AS head_count,
           CAST(u.t AS BIGINT) AS tail_count,
           round(u.h / tot.ht, 6) AS head_share,
           round(u.t / tot.tt, 6) AS tail_share,
           round(ln((u.h + 1) / (tot.ht + tot.v))
                 - ln((u.t + 1) / (tot.tt + tot.v)), 6) AS log_lift
    FROM u CROSS JOIN tot
    ORDER BY abs(ln((u.h + 1) / (tot.ht + tot.v))
                 - ln((u.t + 1) / (tot.tt + tot.v))) DESC, u.token
    LIMIT 10
    """,
)
def llm_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-vs-tail positional token bias: unigram distributions of
    each document's FIRST 10 vs LAST 10 tokens, ranked by absolute
    smoothed log-lift. A token that dominates heads is a template
    header / boilerplate opener — the positional signal that
    whole-doc frequency profiles can't see (a 1%-of-corpus token
    sitting in 90% of heads screams 'scraped template'). Two bounded
    explodes + vocabulary-sized full join; integer counts →
    bit-exact. Ref: reference template-detection tests (cf.
    llm_distinctive_ngrams for the source-level analogue)."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        F.split(F.col("text"), " ").alias("toks"),
        F.size(F.split(F.col("text"), " ")).alias("n"),
    )
    head = t.select(
        F.explode(F.slice(F.col("toks"), 1, _HT)).alias("token")
    )
    tail = t.select(
        F.explode(
            F.slice(F.col("toks"), F.col("n") - _HT + 1, F.lit(_HT))
        ).alias("token")
    )
    hc = head.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("h"))
    tc = tail.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("t"))
    u = (
        hc.join(tc, "token", "full")
        .select(
            "token",
            F.coalesce(F.col("h"), F.lit(0.0)).alias("h"),
            F.coalesce(F.col("t"), F.lit(0.0)).alias("t"),
        )
    )
    tot = u.agg(
        F.sum("h").alias("ht"),
        F.sum("t").alias("tt"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    j = u.crossJoin(F.broadcast(tot))
    lift = F.log((F.col("h") + 1) / (F.col("ht") + F.col("v"))) - F.log(
        (F.col("t") + 1) / (F.col("tt") + F.col("v"))
    )
    return (
        j.select(
            "token",
            F.col("h").cast("bigint").alias("head_count"),
            F.col("t").cast("bigint").alias("tail_count"),
            F.round(F.col("h") / F.col("ht"), 6).alias("head_share"),
            F.round(F.col("t") / F.col("tt"), 6).alias("tail_share"),
            F.round(lift, 6).alias("log_lift"),
            F.abs(lift).alias("_a"),
        )
        .orderBy(F.desc("_a"), "token")
        .limit(10)
        .drop("_a")
    )


# --------------------------------------------------------------------------
# Participation ratio: how many embedding dims actually carry variance
# --------------------------------------------------------------------------
@query(
    "vec_participation_ratio",
    oracle="""
    WITH e AS (
      SELECT unnest(generate_series(1, len(embedding))) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    g AS (
      SELECT dim, CAST(count(*) AS DOUBLE) AS n,
             sum(val) AS sx, sum(val * val) AS sxx
      FROM e GROUP BY dim
    ),
    v AS (
      SELECT dim, n,
             floor(((sxx - sx * sx / n) / (n - 1)) * 1000000000 + 0.5)
               / 1000000000 AS var
      FROM g
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_dims,
             CAST(max(n) AS BIGINT) AS n_vecs,
             sum(var) AS tr, sum(var * var) AS tr2, max(var) AS vmax
      FROM v
    )
    SELECT n_vecs, n_dims,
           round(tr, 6) AS total_variance,
           round(tr * tr / tr2, 6) AS participation_ratio,
           round(tr * tr / tr2 / n_dims, 6) AS pr_ratio,
           round(vmax / tr, 6) AS top_dim_var_share
    FROM s
    """,
)
def vec_participation_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Participation ratio of the embedding cloud — (Σσ²_d)²/Σσ⁴_d
    over per-dimension variances: the effective number of dimensions
    the data actually occupies (PR = d for isotropic, PR → 1 for a
    line). The cheap diagonal answer to 'is this 64-dim space
    really 64-dim', the capacity probe behind choosing a PQ/IVF
    budget. One posexplode → 64-group variance rollup; per-dim
    variances are grid-quantized (1e-9) before the ratio so both
    engines divide identical doubles. Ref: reference
    embedding-diagnostics tests (cf. vec_pca_variance_explained for
    the eigen view — PR needs no iteration)."""
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.posexplode(F.col("embedding")).alias("dim", "raw")
    ).select("dim", F.col("raw").cast("double").alias("val"))
    g = e.groupBy("dim").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("val").alias("sx"),
        F.sum(F.col("val") * F.col("val")).alias("sxx"),
    )
    v = g.select(
        "n",
        (
            F.floor(
                ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1))
                * 1000000000.0
                + 0.5
            )
            / 1000000000.0
        ).alias("var"),
    )
    s = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
        F.max("n").cast("bigint").alias("n_vecs"),
        F.sum("var").alias("tr"),
        F.sum(F.col("var") * F.col("var")).alias("tr2"),
        F.max("var").alias("vmax"),
    )
    return s.select(
        "n_vecs",
        "n_dims",
        F.round("tr", 6).alias("total_variance"),
        F.round(F.col("tr") * F.col("tr") / F.col("tr2"), 6).alias(
            "participation_ratio"
        ),
        F.round(F.col("tr") * F.col("tr") / F.col("tr2") / F.col("n_dims"), 6).alias(
            "pr_ratio"
        ),
        F.round(F.col("vmax") / F.col("tr"), 6).alias("top_dim_var_share"),
    )
