"""Contract keys: ``events_pattern_match``, ``stats_median_ci``,
``llm_cooc_ppmi_window``.

Sequence-pattern matching, order-statistic
confidence intervals, and windowed PPMI co-occurrence.

Reference parity: the reference's MATCH_RECOGNIZE-style sequence
matcher, its distribution-free quantile CI, and its co-occurrence
vectorizer input — re-expressed as regex over session strings,
binomial rank bounds, and a positional self-join.

Scale notes:

- ``events_pattern_match``: each session collapses to ONE string of
  event initials (ordered string_agg), so arbitrary sequence
  patterns become row-local regexes — the poor man's
  MATCH_RECOGNIZE that actually scales: state lives in the string,
  never across rows.
- ``stats_median_ci``: the CI is two ORDER STATISTICS at binomial
  ranks — one per-group window rank pass, no bootstrap resampling at
  all (cf. stats_bootstrap_ci for when ranks don't apply).
- ``llm_cooc_ppmi_window``: co-occurrence at distances 2-3 explodes
  each token to ≤2 partners (bounded fanout), then one pair rollup;
  marginals are re-aggregations of the same rollup, broadcast back.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.textops import tokens
from etl_framework_spark.registry import query

_GAP_S = 1800
_MIN_PAIR = 15
_TOP_PPMI = 20


# --------------------------------------------------------------------------
# Sequence-pattern matching over sessionized event strings
# --------------------------------------------------------------------------
@query(
    "events_pattern_match",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t,
             event_id, substr(event_type, 1, 1) AS ch
      FROM events
    ),
    flagged AS (
      SELECT *,
             CASE WHEN t - lag(t) OVER (PARTITION BY user_id
                                        ORDER BY t, event_id) > {_GAP_S}
                  THEN 1 ELSE 0 END AS brk
      FROM seq
    ),
    sess AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id
                               ORDER BY t, event_id) AS sid
      FROM flagged
    ),
    strs AS (
      SELECT user_id, sid,
             string_agg(ch, '' ORDER BY t, event_id) AS s
      FROM sess GROUP BY user_id, sid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(*) FILTER (regexp_matches(s, 'v.*c.*p')) AS BIGINT)
             AS n_view_click_purchase,
           CAST(count(*) FILTER (regexp_matches(s, 'p.*p')) AS BIGINT)
             AS n_repeat_purchase,
           CAST(count(*) FILTER (regexp_matches(s, 'e')) AS BIGINT)
             AS n_with_error,
           round(CAST(count(*) FILTER (regexp_matches(s, 'v.*c.*p'))
                      AS DOUBLE) / count(*), 6) AS vcp_rate,
           round(avg(CAST(length(s) AS DOUBLE)), 6) AS avg_session_events
    FROM strs
    """,
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE without the clause: sessionize (30-min gap),
    collapse each session to an ordered string of event-type initials
    (v/c/p/s/e), and match arbitrary SEQUENCE patterns as row-local
    regexes — view→…→click→…→purchase funnels, repeat purchases,
    error-touched sessions — in one aggregation over the session
    strings. The pattern state lives inside the string, so matching
    parallelizes perfectly and new patterns are one regex, not a new
    stateful operator. Ref: reference sequence-matcher tests (cf.
    events_top_paths, funnel)."""
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("t"),
        "event_id",
        F.substring("event_type", 1, 1).alias("ch"),
    )
    wo = W.partitionBy("user_id").orderBy("t", "event_id")
    sess = seq.withColumn(
        "brk",
        F.when(F.col("t") - F.lag("t").over(wo) > _GAP_S, 1).otherwise(0),
    ).withColumn("sid", F.sum("brk").over(wo))
    strs = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("t", "event_id", "ch"))),
                    lambda r: r["ch"],
                ),
                "",
            ).alias("s")
        )
    )
    m = lambda pat: F.col("s").rlike(pat)
    return strs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.count(F.when(m("v.*c.*p"), 1))
        .cast("bigint")
        .alias("n_view_click_purchase"),
        F.count(F.when(m("p.*p"), 1)).cast("bigint").alias("n_repeat_purchase"),
        F.count(F.when(m("e"), 1)).cast("bigint").alias("n_with_error"),
        F.round(
            F.count(F.when(m("v.*c.*p"), 1)).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("vcp_rate"),
        F.round(F.avg(F.length("s").cast("double")), 6).alias(
            "avg_session_events"
        ),
    )


# --------------------------------------------------------------------------
# Distribution-free median confidence interval via order statistics
# --------------------------------------------------------------------------
@query(
    "stats_median_ci",
    oracle="""
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    b AS (
      SELECT *,
             CAST(floor(n / 2.0 - 0.980 * sqrt(CAST(n AS DOUBLE)))
                  AS BIGINT) AS lo_rank,
             CAST(ceil(n / 2.0 + 1 + 0.980 * sqrt(CAST(n AS DOUBLE)))
                  AS BIGINT) AS hi_rank
      FROM r
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           round(quantile_cont(value, 0.5), 6) AS median,
           round(min(CASE WHEN rn = lo_rank THEN value END), 6) AS ci_lo,
           round(min(CASE WHEN rn = hi_rank THEN value END), 6) AS ci_hi,
           CAST(max(hi_rank) - max(lo_rank) AS BIGINT) AS rank_span
    FROM b GROUP BY event_type
    """,
)
def stats_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the median per
    event type: the binomial order-statistic bounds n/2 ± z·√n/2 —
    two values read off the SAME per-group rank pass that any exact
    median needs, valid for ANY continuous distribution, and no
    bootstrap resampling anywhere (cf. stats_bootstrap_ci for
    statistics where rank bounds don't exist). Deterministic
    (value, event_id) tie-break. Ref: reference nonparametric-CI
    tests."""
    ev = table(spark, sf_dir, "events")
    wr = W.partitionBy("event_type").orderBy("value", "event_id")
    wp = W.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    z_half = 0.980  # 1.96 / 2
    b = r.withColumn(
        "lo_rank",
        F.floor(
            F.col("n") / 2.0 - z_half * F.sqrt(F.col("n").cast("double"))
        ).cast("bigint"),
    ).withColumn(
        "hi_rank",
        F.ceil(
            F.col("n") / 2.0 + 1 + z_half * F.sqrt(F.col("n").cast("double"))
        ).cast("bigint"),
    )
    return b.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.round(F.percentile("value", 0.5), 6).alias("median"),
        F.round(
            F.min(F.when(F.col("rn") == F.col("lo_rank"), F.col("value"))), 6
        ).alias("ci_lo"),
        F.round(
            F.min(F.when(F.col("rn") == F.col("hi_rank"), F.col("value"))), 6
        ).alias("ci_hi"),
        (F.max("hi_rank") - F.max("lo_rank")).cast("bigint").alias("rank_span"),
    )


# --------------------------------------------------------------------------
# Windowed (distance 2-3) PPMI co-occurrence pairs
# --------------------------------------------------------------------------
@query(
    "llm_cooc_ppmi_window",
    oracle=f"""
    WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
    pairs AS (
      SELECT unnest(list_transform(
               generate_series(1, greatest(len(l) - d, 0)),
               i -> {{'w1': l[i], 'w2': l[i + d]}})) AS pr
      FROM t CROSS JOIN generate_series(2, 3) dd(d)
    ),
    pc AS (
      SELECT pr.w1 AS w1, pr.w2 AS w2, CAST(count(*) AS DOUBLE) AS c
      FROM pairs GROUP BY w1, w2
    ),
    rt AS (SELECT w1, sum(c) AS r FROM pc GROUP BY w1),
    ct AS (SELECT w2, sum(c) AS cc FROM pc GROUP BY w2),
    nn AS (SELECT sum(c) AS n FROM pc),
    ppmi AS (
      SELECT pc.w1, pc.w2, CAST(pc.c AS BIGINT) AS n_cooc,
             greatest(ln(pc.c * nn.n / (rt.r * ct.cc)), 0.0) AS ppmi
      FROM pc JOIN rt ON pc.w1 = rt.w1
              JOIN ct ON pc.w2 = ct.w2
              CROSS JOIN nn
      WHERE pc.c >= {_MIN_PAIR}
    )
    SELECT w1, w2, n_cooc, round(ppmi, 6) AS ppmi
    FROM ppmi ORDER BY ppmi DESC, w1, w2 LIMIT {_TOP_PPMI}
    """,
)
def llm_cooc_ppmi_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive PMI over SKIP co-occurrences (distances 2-3, the
    window the adjacent-bigram PMI key deliberately excludes): the
    GloVe/word2vec-style association signal that finds collocations
    spanning a word in between. Each token pairs with ≤2 forward
    partners (bounded row-local fanout via index arithmetic — no
    pairwise join); marginals re-aggregate the pair rollup and
    broadcast back; PPMI clamps at zero. Deterministic top-20. Ref:
    reference co-occurrence tests (cf. llm_pmi,
    llm_collocations_llr)."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(tokens("text").alias("l"))
    pairs = None
    for d in (2, 3):
        p = t.select(
            F.explode(
                F.when(
                    F.size("l") > d,
                    F.zip_with(
                        F.slice("l", 1, F.size("l") - d),
                        F.slice("l", d + 1, F.size("l") - d),
                        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                    ),
                ).otherwise(F.array())
            ).alias("p")
        ).select("p.w1", "p.w2")
        pairs = p if pairs is None else pairs.unionAll(p)
    pc = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    rt = pc.groupBy("w1").agg(F.sum("c").alias("r"))
    ct = pc.groupBy("w2").agg(F.sum("c").alias("cc"))
    nn = pc.agg(F.sum("c").alias("n"))
    ppmi = (
        pc.join(F.broadcast(rt), "w1")
        .join(F.broadcast(ct), "w2")
        .crossJoin(F.broadcast(nn))
        .filter(F.col("c") >= _MIN_PAIR)
        .select(
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("n_cooc"),
            F.greatest(
                F.log(F.col("c") * F.col("n") / (F.col("r") * F.col("cc"))),
                F.lit(0.0),
            ).alias("ppmi"),
        )
    )
    return (
        ppmi.orderBy(F.desc("ppmi"), "w1", "w2")
        .limit(_TOP_PPMI)
        .select("w1", "w2", "n_cooc", F.round("ppmi", 6).alias("ppmi"))
    )
