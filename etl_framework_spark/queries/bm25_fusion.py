"""Contract keys: ``llm_bm25``, ``rank_fusion``.

Retrieval scoring — BM25 and reciprocal-rank
fusion, the ranking layer over the corpus/text-analysis operators.

Scale notes:
- ``llm_bm25``: the query is the top-3 corpus tokens (self-contained
  and deterministic); document frequencies and the query set are
  broadcast-sized; candidate postings materialize through an equi-join
  of exploded tokens against the 3-row query set (semi-bounded — never
  the full posting list of the corpus). Per-doc scores fold in sorted
  token order (strict IEEE sequence both engines). Top-20 plans as
  TakeOrdered — no global sort.
- ``rank_fusion``: each ranking is cut to its top-100 by TakeOrdered
  BEFORE any window runs, so the rank windows order 100-row inputs,
  never the corpus; fusion is a full outer join of two bounded rank
  lists. The absent-from-one-list penalty (score contribution 0) is
  the standard RRF treatment.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_K1 = 1.2
_B = 0.75
_RRF_K = 60


# --------------------------------------------------------------------------
# IR — BM25 scoring for the top-3-token query
# --------------------------------------------------------------------------
@query(
    "llm_bm25",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY doc_id),
    stats AS (SELECT avg(dlen) AS avgdl,
                     CAST(count(*) AS DOUBLE) AS n FROM dl),
    q AS (
      SELECT token FROM tok GROUP BY token
      ORDER BY count(*) DESC, token LIMIT 3
    ),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
      FROM tok WHERE token IN (SELECT token FROM q)
      GROUP BY doc_id, token
    ),
    df AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
    term AS (
      SELECT tf.doc_id, tf.token,
             ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1)
               * tf.tf * ({_K1} + 1)
               / (tf.tf + {_K1} * (1 - {_B} + {_B} * dl.dlen / stats.avgdl))
               AS s
      FROM tf
      JOIN df USING (token)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    ),
    scored AS (
      SELECT doc_id,
             round(list_reduce(list(s ORDER BY token),
                               (acc, x) -> acc + x), 6) AS bm25
      FROM term GROUP BY doc_id
    )
    SELECT doc_id, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def llm_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75, Lucene +1 idf) scoring every document
    against the query formed by the corpus's top-3 tokens, returning
    the top-20. Query set and document frequencies are broadcast-
    sized; per-doc term scores fold in sorted token order so the <=3
    double additions happen in the same IEEE sequence on both
    engines; ranking uses the ROUNDED score (tie-broken by doc_id) so
    rank order is engine-stable."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dlen"))
    stats = dl.agg(
        F.avg("dlen").alias("avgdl"), F.count("*").cast("double").alias("n")
    )
    q = (
        tok.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(3)
        .select("token")
    )
    tf = (
        tok.join(F.broadcast(q), "token")
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count("*").cast("double").alias("df"))
    term = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            "token",
            (
                F.log(
                    (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
                )
                * F.col("tf")
                * (_K1 + 1)
                / (
                    F.col("tf")
                    + _K1 * (1 - _B + _B * F.col("dlen") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    scored = (
        term.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("token", "s"))).alias("ts"))
        .select(
            "doc_id",
            F.round(
                F.aggregate(
                    F.col("ts.s"),
                    F.lit(0.0).cast("double"),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("bm25"),
        )
    )
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(20)


# --------------------------------------------------------------------------
# IR — reciprocal-rank fusion of two rankings
# --------------------------------------------------------------------------
@query(
    "rank_fusion",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r
      FROM (SELECT doc_id, n_chars FROM documents
            ORDER BY n_chars DESC, doc_id LIMIT 100)
    ),
    b AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY ntok DESC, doc_id) AS r
      FROM (SELECT doc_id, len(string_split(text, ' ')) AS ntok
            FROM documents ORDER BY ntok DESC, doc_id LIMIT 100)
    )
    SELECT doc_id,
           round(coalesce(1.0 / ({_RRF_K} + a.r), 0.0)
                 + coalesce(1.0 / ({_RRF_K} + b.r), 0.0), 6) AS rrf
    FROM a FULL OUTER JOIN b USING (doc_id)
    ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of two document rankings (by
    char length and by token count — stand-ins for lexical and
    semantic retrieval lists). Each list is cut to its top-100 with
    TakeOrdered BEFORE ranking, so the rank windows see 100 rows, not
    the corpus; fusion is a full outer join of the two bounded lists
    with the standard missing-list contribution of 0."""
    d = table(spark, sf_dir, "documents")
    a_top = (
        d.select("doc_id", "n_chars")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(100)
    )
    a = a_top.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("ra"),
    )
    b_top = (
        d.select("doc_id", F.size(F.split("text", " ")).alias("ntok"))
        .orderBy(F.col("ntok").desc(), "doc_id")
        .limit(100)
    )
    b = b_top.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("ntok").desc(), "doc_id"))
        .alias("rb"),
    )
    fused = a.join(b, "doc_id", "full").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("ra")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("rb")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(20)
