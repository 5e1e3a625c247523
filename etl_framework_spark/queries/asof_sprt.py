"""Contract keys: ``join_asof_tolerance``, ``stats_sprt``,
``llm_readability``.

Tolerance-bounded as-of join, sequential A/B
testing (SPRT), and readability profiling.

Scale notes:

- ``join_asof_tolerance``: same union-tag + running-last shape as
  join_asof (one shuffle on the key), plus a post-match staleness
  predicate — matches older than the tolerance become NULL, exactly
  pandas merge_asof(tolerance=...). No extra shuffle: the tolerance
  check runs on already-joined rows.
- ``stats_sprt``: the sequential test is a cumulative sum over the
  |days| rollup — the monitoring-friendly alternative to fixed-
  horizon tests (peek daily WITHOUT alpha inflation). All inputs are
  integer counts; the log-likelihood increments are scalar.
- ``llm_readability``: vowel-cluster syllable counting via ONE
  regexp per word over the exploded token table; per-source rollup.
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.asof import asof_join
from etl_framework_spark.registry import query

_TOL_S = 3600  # as-of match tolerance, seconds
_LIFT = 1.10  # SPRT H1: +10% conversion lift
_SPRT_A = math.log((1 - 0.2) / 0.05)  # accept H1 boundary (α=.05, β=.2)
_SPRT_B = math.log(0.2 / (1 - 0.05))  # accept H0 boundary
_HK = 2654435761  # the train_split/ab_test hash constant


# --------------------------------------------------------------------------
# As-of join with staleness tolerance (pandas merge_asof parity)
# --------------------------------------------------------------------------
@query(
    "join_asof_tolerance",
    oracle=f"""
    WITH ev AS (SELECT event_id, user_id, event_type, value,
                       date_trunc('second', ts) AS tts
                FROM events),
    purch AS (SELECT event_id, user_id, value, tts FROM ev
              WHERE event_type = 'purchase'),
    views AS (SELECT user_id, tts, event_id FROM ev
              WHERE event_type = 'view'
              QUALIFY row_number() OVER (PARTITION BY user_id, tts
                                         ORDER BY event_id DESC) = 1),
    m AS (
      SELECT p.event_id, p.user_id, p.value,
             v.event_id AS v_id, v.tts AS v_tts, p.tts AS p_tts
      FROM purch p ASOF LEFT JOIN views v
        ON p.user_id = v.user_id AND p.tts >= v.tts
    )
    SELECT event_id, user_id, value,
           CASE WHEN v_tts IS NOT NULL
                 AND epoch_us(p_tts) - epoch_us(v_tts)
                     <= CAST({_TOL_S} AS BIGINT) * 1000000
                THEN v_id END AS right_event_id,
           CASE WHEN v_tts IS NOT NULL
                 AND epoch_us(p_tts) - epoch_us(v_tts)
                     <= CAST({_TOL_S} AS BIGINT) * 1000000
                THEN CAST((epoch_us(p_tts) - epoch_us(v_tts)) / 1000000
                          AS BIGINT) END AS staleness_s
    FROM m
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness TOLERANCE (pandas
    merge_asof(tolerance=...) parity): each purchase matches the
    latest preceding view by the same user, but a match older than
    {_TOL_S}s is rejected back to NULL — the feature-freshness
    contract every point-in-time feature store enforces (serving a
    day-old 'latest view' as context is usually worse than serving
    none). Same union-tag + running-last plan as join_asof (one
    shuffle on user_id); the tolerance is a post-match predicate in
    integer microseconds, adding zero shuffles. Cites join_asof /
    operators/asof.py for the base machinery."""
    ev = table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value", "tts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "tts"
    )
    out = asof_join(
        purch,
        views,
        on="user_id",
        left_ts="tts",
        right_ts="tts",
        payload_cols=["event_id", "tts"],
        tiebreak="event_id",
    )
    stale_us = F.unix_micros(F.col("tts").cast("timestamp")) - F.unix_micros(
        F.col("right_tts").cast("timestamp")
    )
    ok = F.col("right_tts").isNotNull() & (stale_us <= _TOL_S * 1000000)
    return out.select(
        "event_id",
        "user_id",
        "value",
        F.when(ok, F.col("right_event_id")).alias("right_event_id"),
        F.when(ok, (stale_us / 1000000).cast("bigint")).alias("staleness_s"),
    )


# --------------------------------------------------------------------------
# SPRT — sequential A/B monitoring without alpha inflation
# --------------------------------------------------------------------------
@query(
    "stats_sprt",
    oracle=f"""
    WITH arms AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(CASE WHEN ((user_id % 1000000007) * {_HK}) % 4294967296 >= 2147483648
                  THEN 1 ELSE 0 END AS INT) AS arm,
             CAST(event_type = 'purchase' AS INT) AS conv
      FROM events
    ),
    p0t AS (
      SELECT CAST(sum(conv) AS DOUBLE) / count(*) AS p0
      FROM arms WHERE arm = 0
    ),
    daily AS (
      SELECT day, CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(conv) AS BIGINT) AS x_b
      FROM arms WHERE arm = 1 GROUP BY day
    ),
    llr AS (
      SELECT day, n_b, x_b,
             x_b * ln({_LIFT})
               + (n_b - x_b) * ln((1 - {_LIFT} * (SELECT p0 FROM p0t))
                                  / (1 - (SELECT p0 FROM p0t))) AS inc
      FROM daily
    )
    SELECT day, n_b, x_b,
           round(inc, 6) AS llr_day,
           round(sum(inc) OVER (ORDER BY day), 6) AS llr_cum,
           CASE WHEN sum(inc) OVER (ORDER BY day) >= {_SPRT_A}
                  THEN 'accept_h1'
                WHEN sum(inc) OVER (ORDER BY day) <= {_SPRT_B}
                  THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM llr
    """,
)
def stats_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT for daily A/B monitoring: arm B's cumulative
    log-likelihood ratio of H1 (conversion = 1.1 × arm A's rate)
    against H0 (equal rates), with the (α=.05, β=.2) decision
    boundaries ln(16)≈2.77 / ln(0.21)≈−1.56 — the sequential test
    that lets an experimenter peek EVERY DAY without alpha inflation,
    versus the fixed-horizon tests (stats_ttest_welch, events_ab_test)
    that must precommit to a horizon. The arm split is the high-bit
    multiplicative hash shared with train_split/events_ab_test; the
    LLR increment per day is scalar math on integer counts
    (x·ln(p1/p0) + (n−x)·ln((1−p1)/(1−p0))), and the running sum is
    one ordered window over the |days| rollup. A/A honesty: arms are
    identical by construction, so the walk should drift toward
    accept_h0, not accept_h1."""
    e = table(spark, sf_dir, "events")
    arms = e.select(
        F.date_trunc("day", "ts").alias("day"),
        (
            F.pmod((F.col("user_id") % 1000000007) * _HK, F.lit(4294967296)) >= 2147483648
        )
        .cast("int")
        .alias("arm"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
    )
    p0 = arms.filter(F.col("arm") == 0).agg(
        (F.sum("conv").cast("double") / F.count("*")).alias("p0")
    )
    daily = (
        arms.filter(F.col("arm") == 1)
        .groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("n_b"),
            F.sum("conv").cast("bigint").alias("x_b"),
        )
    )
    inc = F.col("x_b") * math.log(_LIFT) + (
        F.col("n_b") - F.col("x_b")
    ) * F.log((1 - _LIFT * F.col("p0")) / (1 - F.col("p0")))
    w = W.orderBy("day")
    llr = daily.crossJoin(F.broadcast(p0)).withColumn("inc", inc)
    cum = F.sum("inc").over(w)
    return llr.select(
        "day",
        "n_b",
        "x_b",
        F.round("inc", 6).alias("llr_day"),
        F.round(cum, 6).alias("llr_cum"),
        F.when(cum >= _SPRT_A, "accept_h1")
        .when(cum <= _SPRT_B, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


# --------------------------------------------------------------------------
# Readability — vowel-cluster syllable profile per source
# --------------------------------------------------------------------------
@query(
    "llm_readability",
    oracle="""
    WITH words AS (
      SELECT source, tok,
             CAST(len(regexp_extract_all(tok, '[aeiouAEIOU]+')) AS BIGINT)
               AS syl,
             CAST(length(tok) AS BIGINT) AS chars
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok <> ''
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_words,
           round(CAST(sum(chars) AS DOUBLE) / count(*), 6) AS avg_word_len,
           round(CAST(sum(syl) AS DOUBLE) / count(*), 6)
             AS avg_syllables_per_word,
           round(CAST(count(*) FILTER (syl >= 3) AS DOUBLE) / count(*), 6)
             AS complex_word_ratio,
           round(206.835 - 84.6 * (CAST(sum(syl) AS DOUBLE) / count(*)), 4)
             AS flesch_word_term
    FROM words GROUP BY source
    """,
)
def llm_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability profile per source from vowel-cluster syllable
    counting ('[aeiou]+' runs per word — the standard cheap syllable
    proxy): average word length, syllables per word, complex-word
    ratio (≥3 syllable groups), and the word-level Flesch term
    206.835 − 84.6·(syll/word). The synthetic corpus has no sentence
    punctuation, so the sentence-length Flesch term is deliberately
    omitted and documented — what remains still orders sources by
    lexical difficulty, which is the quality-mix signal a curation
    pipeline actually uses. One token explode, one regexp per word,
    integer sufficient statistics."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    words = words.select(
        "source",
        F.regexp_count(F.col("tok"), F.lit("[aeiouAEIOU]+")).cast("bigint").alias("syl"),
        F.length("tok").cast("bigint").alias("chars"),
    )
    syl_per_word = F.sum("syl").cast("double") / F.count("*")
    return words.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.round(F.sum("chars").cast("double") / F.count("*"), 6).alias(
            "avg_word_len"
        ),
        F.round(syl_per_word, 6).alias("avg_syllables_per_word"),
        F.round(
            F.sum(F.when(F.col("syl") >= 3, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("complex_word_ratio"),
        F.round(206.835 - 84.6 * syl_per_word, 4).alias("flesch_word_term"),
    )
