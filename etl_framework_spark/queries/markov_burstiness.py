"""Contract keys: ``events_markov_stationary``, ``llm_word_burstiness``.

Markov stationary distribution and word
burstiness.

Scale notes:

- ``events_markov_stationary``: π·P power iteration on the
  |types|×|types| transition matrix (a tiny relation after the
  events_markov rollup) with the graph_pagerank quantize-to-BIGINT
  accumulation — bit-exact, partition-invariant, unrolled 3 rounds
  in the oracle.
- ``llm_word_burstiness``: variance-to-mean dispersion of per-doc
  counts for the most frequent words; everything reduces to Σc and
  Σc² over the (doc, word) rollup — integer sufficient statistics,
  ranking by an integer-derived ratio with a word tie-break.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

_ITERS = 3
_TOP_FREQ = 100
_TOP_OUT = 20


# --------------------------------------------------------------------------
# Markov stationary distribution — where the session flow settles
# --------------------------------------------------------------------------
def _duck_stationary() -> str:
    base = """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id) AS prev_type
      FROM events),
    trans AS (
      SELECT prev_type AS src, event_type AS dst,
             count(*) / CAST(sum(count(*)) OVER (PARTITION BY prev_type)
                   AS DOUBLE) AS p
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type),
    types AS (SELECT DISTINCT src AS t FROM trans),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM types),
    emp AS (
      SELECT event_type AS t,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type),
    pi0 AS (SELECT t, 1.0 / (SELECT n FROM nn) AS pi FROM types)
    """
    it = """,
    acc{i} AS (
      SELECT tr.dst AS t,
             sum(CAST(floor(p.pi * tr.p * 1e12 + 0.5) AS BIGINT)) AS acc
      FROM trans tr JOIN pi{prev} p ON p.t = tr.src GROUP BY tr.dst),
    pi{i} AS (
      SELECT ty.t, CAST(coalesce(a.acc, 0) AS DOUBLE) * 1e-12 AS pi
      FROM types ty LEFT JOIN acc{i} a ON a.t = ty.t)
    """
    sql = base
    for i in range(1, _ITERS + 1):
        sql += it.format(i=i, prev=i - 1)
    sql += f"""
    SELECT p.t AS event_type,
           round(p.pi, 10) AS stationary_prob,
           round(CAST(e.n_events AS DOUBLE)
                 / (SELECT sum(n_events) FROM emp), 6) AS empirical_share,
           row_number() OVER (ORDER BY p.pi DESC, p.t) AS rnk
    FROM pi{_ITERS} p JOIN emp e ON e.t = p.t
    """
    return sql


@query("events_markov_stationary", oracle=_duck_stationary())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the events_markov transition matrix
    (3 power iterations from uniform, quantized-BIGINT accumulation —
    graph_pagerank's bit-exact discipline): where the per-user action
    flow settles in the long run, reported next to the raw empirical
    type share — agreement certifies the first-order chain captures
    the mix; divergence flags higher-order structure. After the
    transition rollup everything runs on a |types|² relation, so the
    iteration cost is independent of event volume."""
    ev = table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    seq = ev.select(
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("tts", "event_id"))
        .alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = (
        seq.groupBy(F.col("prev_type").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count("*").alias("c"))
        .withColumn(
            "p",
            F.col("c")
            / F.sum("c").over(W.partitionBy("src")).cast("double"),
        )
        .select("src", "dst", "p")
        .transform(persist_tracked)
    )
    types = trans.select(F.col("src").alias("t")).distinct().transform(persist_tracked)
    n = types.count()
    emp = table(spark, sf_dir, "events").groupBy(
        F.col("event_type").alias("t")
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    pi = types.select("t", (F.lit(1.0) / F.lit(float(n))).alias("pi"))
    for _ in range(_ITERS):
        acc = (
            trans.join(pi, trans.src == pi.t)
            .select(
                F.col("dst").alias("t2"),
                F.floor(F.col("pi") * F.col("p") * 1e12 + 0.5)
                .cast("bigint")
                .alias("c"),
            )
            .groupBy("t2")
            .agg(F.sum("c").alias("acc"))
        )
        pi = types.join(acc, types.t == acc.t2, "left").select(
            "t",
            (F.coalesce(F.col("acc"), F.lit(0)).cast("double") * F.lit(1e-12)).alias(
                "pi"
            ),
        )
    tot = emp.agg(F.sum("n_events").alias("te"))
    return (
        pi.join(emp, "t")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("t").alias("event_type"),
            F.round("pi", 10).alias("stationary_prob"),
            F.round(F.col("n_events").cast("double") / F.col("te"), 6).alias(
                "empirical_share"
            ),
            F.row_number()
            .over(W.orderBy(F.col("pi").desc(), "t"))
            .alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# Word burstiness — dispersion of per-doc counts (Church-Gale style)
# --------------------------------------------------------------------------
@query(
    "llm_word_burstiness",
    oracle=f"""
    WITH dc AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY doc_id, tok
    ),
    nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    per_word AS (
      SELECT tok, CAST(sum(c) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(c * c) AS BIGINT) AS scc
      FROM dc GROUP BY tok
    ),
    top AS (
      SELECT * FROM per_word
      QUALIFY row_number() OVER (ORDER BY total DESC, tok) <= {_TOP_FREQ}
    ),
    scored AS (
      SELECT tok, total, df,
             (CAST(scc AS DOUBLE) / (SELECT n FROM nd)
              - (CAST(total AS DOUBLE) / (SELECT n FROM nd))
                * (CAST(total AS DOUBLE) / (SELECT n FROM nd)))
               / (CAST(total AS DOUBLE) / (SELECT n FROM nd)) AS b
      FROM top
    )
    SELECT tok, total, df, round(b, 6) AS burstiness, rnk
    FROM (SELECT *, row_number() OVER (ORDER BY b DESC, tok) AS rnk
          FROM scored)
    WHERE rnk <= {_TOP_OUT}
    """,
)
def llm_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness (Church-Gale dispersion): for the {_TOP_FREQ}
    most frequent words, the variance-to-mean ratio of per-document
    counts (zeros included via the population identity
    E[x²] − E[x]²) — bursty words (b ≫ 1) concentrate in few docs and
    carry topic/template signal; b ≈ 1 is Poisson scatter, the
    function-word profile. The top-{_TOP_OUT} burstiest are reported.
    Everything reduces to Σc and Σc² over the (doc, word) rollup —
    integer sufficient statistics, so the ranking ratio is bit-exact
    and the tie-break (word asc) makes it a total order."""
    d = table(spark, sf_dir, "documents")
    dc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    nd = d.agg(F.count("*").cast("double").alias("n"))
    per_word = dc.groupBy("tok").agg(
        F.sum("c").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("df"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("scc"),
    )
    top = (
        per_word.withColumn(
            "f_rnk",
            F.row_number().over(W.orderBy(F.col("total").desc(), "tok")),
        )
        .filter(F.col("f_rnk") <= _TOP_FREQ)
        .drop("f_rnk")
    )
    mean = F.col("total").cast("double") / F.col("n")
    b = (F.col("scc").cast("double") / F.col("n") - mean * mean) / mean
    scored = top.crossJoin(F.broadcast(nd)).withColumn("b", b)
    return (
        scored.withColumn(
            "rnk", F.row_number().over(W.orderBy(F.col("b").desc(), "tok"))
        )
        .filter(F.col("rnk") <= _TOP_OUT)
        .select("tok", "total", "df", F.round("b", 6).alias("burstiness"), "rnk")
    )
