"""Contract keys: ``dq_tz_shift_detect``, ``events_markov_entropy_rate``,
``llm_length_lognormal_fit``.

Timezone-shift detection, Markov entropy rate,
and log-normal length fitting.

Reference parity: the reference's clock-skew/timezone audit, its
sequence-predictability metric, and its length-distribution fit —
re-expressed as a 24x2 contingency chi-square, conditional entropy
over the transition rollup, and method-of-moments log-normal
parameters with a decile CDF check.

Scale notes:

- ``dq_tz_shift_detect``: the 24x2 hour-by-half contingency table is
  one rollup; the chi-square and the worst-shifted hour are
  expression work on 48 cells. A silent timezone misconfig moves
  the whole hour histogram — this is the cheapest detector.
- ``events_markov_entropy_rate``: H(next|current) needs only the
  transition-pair rollup and its source marginal — the same
  chain-rule arithmetic as llm_entropy_rate, measuring how
  PREDICTABLE user behavior is (0 = deterministic loop,
  ln(5) = uniform chaos).
- ``llm_length_lognormal_fit``: MoM on ln(length) is one rollup;
  the decile CDF comparison reuses the shared percentile parity and
  the logistic normal-CDF approximation (identical both engines).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_CHI2_23_95 = 35.17246162690805


# --------------------------------------------------------------------------
# Timezone / clock-shift detector: hour histogram, first vs second half
# --------------------------------------------------------------------------
@query(
    "dq_tz_shift_detect",
    oracle=f"""
    WITH e AS (
      SELECT hour(ts) AS hr,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t
      FROM events
    ),
    w AS (SELECT min(t) AS e0, max(t) AS e1 FROM e),
    lab AS (
      SELECT hr,
             CAST(t AS DOUBLE)
               < (CAST(e0 AS DOUBLE) + CAST(e1 AS DOUBLE)) / 2 AS h1
      FROM e, w
    ),
    cells AS (
      SELECT hr,
             CAST(count(*) FILTER (h1) AS DOUBLE) AS n1,
             CAST(count(*) FILTER (NOT h1) AS DOUBLE) AS n2
      FROM lab GROUP BY hr
    ),
    tot AS (
      SELECT sum(n1) AS t1, sum(n2) AS t2, sum(n1 + n2) AS n FROM cells
    ),
    chi AS (
      SELECT
        sum((n1 - (n1 + n2) * t1 / n) * (n1 - (n1 + n2) * t1 / n)
            / ((n1 + n2) * t1 / n)
            + (n2 - (n1 + n2) * t2 / n) * (n2 - (n1 + n2) * t2 / n)
            / ((n1 + n2) * t2 / n)) AS chi2,
        max(abs(n1 / t1 - n2 / t2)) AS max_share_shift
      FROM cells CROSS JOIN tot
    )
    SELECT round(chi2, 6) AS chi2,
           round(max_share_shift, 6) AS max_hour_share_shift,
           chi2 > {_CHI2_23_95} AS distribution_shifted
    FROM chi
    """,
)
def dq_tz_shift_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone/clock-skew detector: compare the hour-of-day
    histogram between the first and second halves of the window with
    a 24x2 contingency chi-square (df=23) — an upstream timezone
    misconfig or DST mishandling rotates the entire histogram, and
    this catches it without knowing which timezone was intended. The
    worst-shifted hour's share delta rides along for triage. One
    rollup, 48 cells of arithmetic. Ref: reference clock-audit tests
    (cf. dq_freshness, events_hour_dow_profile)."""
    ev = table(spark, sf_dir, "events")
    e = ev.select(
        F.hour("ts").alias("hr"),
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("t"),
    )
    w = e.agg(F.min("t").alias("e0"), F.max("t").alias("e1"))
    lab = e.crossJoin(F.broadcast(w)).select(
        "hr",
        (
            F.col("t").cast("double")
            < (F.col("e0").cast("double") + F.col("e1").cast("double")) / 2
        ).alias("h1"),
    )
    cells = lab.groupBy("hr").agg(
        F.count(F.when(F.col("h1"), 1)).cast("double").alias("n1"),
        F.count(F.when(~F.col("h1"), 1)).cast("double").alias("n2"),
    )
    tot = cells.agg(
        F.sum("n1").alias("t1"),
        F.sum("n2").alias("t2"),
        F.sum(F.col("n1") + F.col("n2")).alias("n"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    e1 = (F.col("n1") + F.col("n2")) * F.col("t1") / F.col("n")
    e2 = (F.col("n1") + F.col("n2")) * F.col("t2") / F.col("n")
    chi = j.agg(
        F.sum(
            (F.col("n1") - e1) * (F.col("n1") - e1) / e1
            + (F.col("n2") - e2) * (F.col("n2") - e2) / e2
        ).alias("chi2"),
        F.max(
            F.abs(F.col("n1") / F.col("t1") - F.col("n2") / F.col("t2"))
        ).alias("max_share_shift"),
    )
    return chi.select(
        F.round("chi2", 6).alias("chi2"),
        F.round("max_share_shift", 6).alias("max_hour_share_shift"),
        (F.col("chi2") > _CHI2_23_95).alias("distribution_shifted"),
    )


# --------------------------------------------------------------------------
# Entropy rate of the per-user event-type Markov chain
# --------------------------------------------------------------------------
@query(
    "events_markov_entropy_rate",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id) AS prev
      FROM events
    ),
    tr AS (
      SELECT prev, event_type AS nxt, CAST(count(*) AS DOUBLE) AS c
      FROM seq WHERE prev IS NOT NULL GROUP BY prev, nxt
    ),
    rt AS (SELECT prev, sum(c) AS r FROM tr GROUP BY prev),
    nn AS (SELECT sum(c) AS n FROM tr),
    h AS (
      SELECT sum(-(tr.c / nn.n) * ln(tr.c / rt.r)) AS h_cond,
             CAST(count(*) AS BIGINT) AS n_transition_types,
             max(nn.n) AS n
      FROM tr JOIN rt ON tr.prev = rt.prev CROSS JOIN nn
    )
    SELECT CAST(n AS BIGINT) AS n_transitions,
           n_transition_types,
           round(h_cond, 6) AS entropy_rate_nats,
           round(exp(h_cond), 6) AS perplexity,
           round(h_cond / ln(5.0), 6) AS normalized_vs_uniform
    FROM h
    """,
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of user behavior: H(next event type | current) =
    −Σ p(i,j)·ln p(j|i) over the empirical transition matrix — 0
    means users run deterministic loops, ln(5) means the next action
    is anyone's guess; normalized against the uniform bound it's the
    single predictability score for the whole behavior stream (and
    an upper bound on any next-event model's achievable log-loss).
    One lag window + transition rollup; same chain-rule arithmetic
    as llm_entropy_rate on a 5-state chain. Ref: reference
    sequence-predictability tests (cf. events_markov,
    events_markov_stationary)."""
    ev = table(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy(
        F.date_trunc("second", F.col("ts")), "event_id"
    )
    seq = ev.select(
        "event_type", F.lag("event_type").over(wo).alias("prev")
    ).filter(F.col("prev").isNotNull())
    tr = seq.groupBy("prev", F.col("event_type").alias("nxt")).agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    rt = tr.groupBy("prev").agg(F.sum("c").alias("r"))
    nn = tr.agg(F.sum("c").alias("n"))
    h = (
        tr.join(F.broadcast(rt), "prev")
        .crossJoin(F.broadcast(nn))
        .agg(
            F.sum(
                -(F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("r"))
            ).alias("h_cond"),
            F.count(F.lit(1)).cast("bigint").alias("n_transition_types"),
            F.max("n").alias("n"),
        )
    )
    import math

    return h.select(
        F.col("n").cast("bigint").alias("n_transitions"),
        "n_transition_types",
        F.round("h_cond", 6).alias("entropy_rate_nats"),
        F.round(F.exp("h_cond"), 6).alias("perplexity"),
        F.round(F.col("h_cond") / math.log(5.0), 6).alias(
            "normalized_vs_uniform"
        ),
    )


# --------------------------------------------------------------------------
# Log-normal fit of document lengths with decile CDF check
# --------------------------------------------------------------------------
@query(
    "llm_length_lognormal_fit",
    oracle="""
    WITH lx AS (
      SELECT CAST(n_chars AS DOUBLE) AS x, ln(CAST(n_chars AS DOUBLE)) AS l
      FROM documents WHERE n_chars > 0
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             avg(l) AS mu, stddev_samp(l) AS sigma,
             quantile_cont(x, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      FROM lx
    ),
    gap AS (
      SELECT n, mu, sigma,
             list_reduce(
               list_transform(generate_series(1, 9),
                 i -> abs(1.0 / (1.0 + exp(-1.702
                          * (ln(qs[i]) - mu) / sigma)) - i / 10.0)),
               (a, b) -> CASE WHEN a > b THEN a ELSE b END) AS max_cdf_gap
      FROM m
    )
    SELECT n AS n_docs,
           round(mu, 6) AS lognorm_mu,
           round(sigma, 6) AS lognorm_sigma,
           round(exp(mu), 6) AS fitted_median_chars,
           round(max_cdf_gap, 6) AS max_decile_cdf_gap,
           max_cdf_gap < 0.10 AS lognormal_plausible
    FROM gap
    """,
)
def llm_length_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-normal fit of document character lengths — the stylized
    fact corpus planners lean on — by method of moments on ln(x),
    then CHECKED: the fitted CDF (logistic normal approximation,
    identical closed form both engines) is compared with the
    empirical deciles and the worst gap decides plausibility. A big
    gap means chunk-size and packing plans built on the log-normal
    assumption will misbudget. One moments+quantile rollup; the
    9-point check is a fold over the decile array. Ref: reference
    distribution-fit tests (cf. llm_length_hist, llm_zipf_fit)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    lx = docs.select(
        F.col("n_chars").cast("double").alias("x"),
        F.log(F.col("n_chars").cast("double")).alias("l"),
    )
    ps = F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
    m = lx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("l").alias("mu"),
        F.stddev_samp("l").alias("sigma"),
        F.percentile("x", ps).alias("qs"),
    )
    gaps = F.transform(
        F.sequence(F.lit(1), F.lit(9)),
        lambda i: F.abs(
            1.0
            / (
                1.0
                + F.exp(
                    -1.702
                    * (F.log(F.element_at(F.col("qs"), i.cast("int"))) - F.col("mu"))
                    / F.col("sigma")
                )
            )
            - i.cast("double") / 10.0
        ),
    )
    max_gap = F.aggregate(
        gaps,
        F.lit(0.0),
        lambda a, b: F.when(a > b, a).otherwise(b),
    )
    g = m.withColumn("max_cdf_gap", max_gap)
    return g.select(
        F.col("n").alias("n_docs"),
        F.round("mu", 6).alias("lognorm_mu"),
        F.round("sigma", 6).alias("lognorm_sigma"),
        F.round(F.exp("mu"), 6).alias("fitted_median_chars"),
        F.round("max_cdf_gap", 6).alias("max_decile_cdf_gap"),
        (F.col("max_cdf_gap") < 0.10).alias("lognormal_plausible"),
    )
