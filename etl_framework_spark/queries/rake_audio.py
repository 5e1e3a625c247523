"""Contract keys: ``llm_rake_keywords``, ``mm_audio_window``.

RAKE keyphrase extraction and audio frame
windowing geometry.

Scale notes:

- ``llm_rake_keywords``: RAKE is pure dataflow — stopword delimiters
  split each doc's token stream into candidate phrases via
  gaps-and-islands (one in-doc window), word degree/frequency scores
  are corpus-level integer aggregates, and phrase scores fold member
  scores in position order. No pair joins anywhere; the phrase table
  is bounded by token count.
- ``mm_audio_window``: the 25 ms / 10 ms frame plan every speech
  pipeline starts with, computed from payload length as pure
  arithmetic (sample count → frame count → clipped tail) so the
  oracle reproduces it exactly; the actual PCM decode stays behind
  the multimodal stub boundary like mm_decode.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.textops import STOPWORDS
from etl_framework_spark.registry import query

_RAKE_STOPS = STOPWORDS["en"] + ["a", "an", "or", "at", "by", "it"]
_RAKE_MAX_LEN = 3
_RAKE_TOP = 20

# Fake audio geometry: 16 kHz, 16-bit mono; 25 ms windows, 10 ms hop.
_SR_BYTES = 2
_WIN = 400
_HOP = 160


def _stoplist_sql() -> str:
    return ", ".join(f"'{w}'" for w in _RAKE_STOPS)


@query(
    "llm_rake_keywords",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, i, l[i] AS tok,
             CASE WHEN l[i] IN ({_stoplist_sql()}) THEN 1 ELSE 0 END AS stop
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
      CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) _
    ),
    grp AS (
      SELECT doc_id, i, tok, stop,
             sum(stop) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS g
      FROM pos
    ),
    members AS (
      SELECT doc_id, g, i, tok,
             count(*) OVER (PARTITION BY doc_id, g) AS plen
      FROM grp WHERE stop = 0
    ),
    kept AS (SELECT * FROM members WHERE plen <= {_RAKE_MAX_LEN}),
    wstats AS (
      SELECT tok,
             CAST(count(*) AS DOUBLE) AS freq,
             CAST(sum(plen) AS DOUBLE) AS deg
      FROM kept GROUP BY tok
    ),
    phr AS (
      SELECT k.doc_id, k.g,
             string_agg(k.tok, ' ' ORDER BY k.i) AS phrase,
             max(k.plen) AS plen,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(w.deg / w.freq ORDER BY k.i)), (a, x) -> a + x) AS score
      FROM kept k JOIN wstats w ON w.tok = k.tok
      GROUP BY k.doc_id, k.g
    ),
    agg AS (
      SELECT phrase, CAST(max(plen) AS BIGINT) AS n_words,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             round(max(score), 6) AS score
      FROM phr GROUP BY phrase
    )
    SELECT phrase, n_words, n_occurrences, score
    FROM agg
    ORDER BY score DESC, phrase LIMIT {_RAKE_TOP}
    """,
)
def llm_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) as pure dataflow:
    stopwords delimit candidate phrases (gaps-and-islands inside each
    doc — one window, no joins), word scores are degree/frequency
    over phrase members (exact integer ratios, corpus-level), and a
    phrase's score folds its members' scores in position order —
    engine-exact. Phrases capped at {_RAKE_MAX_LEN} words; top-{_RAKE_TOP}
    under a (score, phrase) total order. The keyword extractor that
    needs no model, at any corpus size."""
    d = table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i0", "tok")
    ).select(
        "doc_id",
        (F.col("i0") + 1).alias("i"),
        "tok",
        F.when(F.col("tok").isin(_RAKE_STOPS), 1).otherwise(0).alias("stop"),
    )
    wg = (
        W.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    grp = pos.withColumn("g", F.sum("stop").over(wg))
    members = grp.filter(F.col("stop") == 0).withColumn(
        "plen", F.count("*").over(W.partitionBy("doc_id", "g"))
    )
    kept = members.filter(F.col("plen") <= _RAKE_MAX_LEN)
    wstats = kept.groupBy("tok").agg(
        F.count("*").cast("double").alias("freq"),
        F.sum("plen").cast("double").alias("deg"),
    )
    scored = kept.join(F.broadcast(wstats), "tok").select(
        "doc_id",
        "g",
        "i",
        "tok",
        "plen",
        (F.col("deg") / F.col("freq")).alias("ws"),
    )
    phr = scored.groupBy("doc_id", "g").agg(
        F.array_sort(F.collect_list(F.struct("i", "tok", "ws"))).alias("sv"),
        F.max("plen").alias("plen"),
    ).select(
        "doc_id",
        F.array_join(F.col("sv.tok"), " ").alias("phrase"),
        "plen",
        F.aggregate(F.col("sv.ws"), F.lit(0.0), lambda a, x: a + x).alias(
            "score"
        ),
    )
    agg = phr.groupBy("phrase").agg(
        F.max("plen").cast("bigint").alias("n_words"),
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.round(F.max("score"), 6).alias("score"),
    )
    return agg.orderBy(F.col("score").desc(), "phrase").limit(_RAKE_TOP)


@query(
    "mm_audio_window",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             CAST(floor(octet_length(encode(text)) / {_SR_BYTES})
                  AS BIGINT) AS n_samples
      FROM documents
    )
    SELECT doc_id,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           n_samples,
           CAST(CASE WHEN n_samples >= {_WIN}
                     THEN 1 + floor((n_samples - {_WIN}) / {_HOP})
                     ELSE 0 END AS BIGINT) AS n_frames,
           CAST(CASE WHEN n_samples >= {_WIN}
                     THEN n_samples
                          - ({_WIN} + floor((n_samples - {_WIN}) / {_HOP})
                                      * {_HOP})
                     ELSE n_samples END AS BIGINT) AS tail_samples
    FROM d
    """,
)
def mm_audio_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame-plan geometry (L6): treating each binary payload as
    16-bit mono PCM, the 25 ms / 400-sample window with a 10 ms /
    160-sample hop — frame count and unconsumed tail per asset, the
    plan every STFT/feature pipeline computes before touching a
    sample. Pure arithmetic on payload length (the decode itself
    stays behind the multimodal stub boundary, like mm_decode), so
    the oracle reproduces the plan exactly; at scale this is a
    mapper-side projection with no shuffle."""
    from etl_framework_spark.operators import multimodal

    assets = multimodal.attach_binary(table(spark, sf_dir, "documents"))
    n_bytes = F.length(F.col("payload")).cast("bigint")
    n_samples = F.floor(n_bytes / _SR_BYTES).cast("bigint")
    n_frames = (
        F.when(
            n_samples >= _WIN,
            1 + F.floor((n_samples - _WIN) / _HOP),
        )
        .otherwise(0)
        .cast("bigint")
    )
    tail = (
        F.when(
            n_samples >= _WIN,
            n_samples - (_WIN + F.floor((n_samples - _WIN) / _HOP) * _HOP),
        )
        .otherwise(n_samples)
        .cast("bigint")
    )
    return assets.select(
        "doc_id",
        n_bytes.alias("n_bytes"),
        n_samples.alias("n_samples"),
        n_frames.alias("n_frames"),
        tail.alias("tail_samples"),
    )
