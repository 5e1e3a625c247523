"""Contract keys: ``stats_negbin_fit``, ``orders_promise_attainment``,
``train_ess_weights``.

Negative-binomial overdispersion fit, quantile
promise-setting, and effective sample size of weighting schemes.

Reference parity: the reference's count-model fitting, its SLA
promise calibration, and its importance-weighting diagnostics —
re-expressed as method-of-moments closed forms, a two-pass quantile
+ attainment join, and the (Σw)²/Σw² identity.

Scale notes:

- ``stats_negbin_fit``: both NB parameters are closed forms on the
  per-type daily-count moments — one rollup, no likelihood
  iteration.
- ``orders_promise_attainment``: the p90 promise comes from one
  grouped quantile; attainment re-reads the SAME lag expression with
  the broadcast promise — two small shuffles.
- ``train_ess_weights``: ESS = (Σw)²/Σw² needs only two sums per
  scheme; the three schemes ride one conditional aggregation. ESS/n
  is the honest answer to 'how much data do my weights keep'.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_EPOCH_MON = "1970-01-05"


# --------------------------------------------------------------------------
# Negative-binomial fit of daily event counts (method of moments)
# --------------------------------------------------------------------------
@query(
    "stats_negbin_fit",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS DOUBLE) AS y
      FROM events GROUP BY event_type, day
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             avg(y) AS mu, var_samp(y) AS v
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days,
           round(mu, 6) AS mean_daily,
           round(v, 6) AS var_daily,
           round(v / mu, 6) AS dispersion_ratio,
           round(CASE WHEN v > mu THEN mu * mu / (v - mu) END, 6)
             AS nb_r,
           round(CASE WHEN v > mu THEN mu / v END, 6) AS nb_p,
           v / mu > 1.5 AS overdispersed
    FROM m
    """,
)
def stats_negbin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial fit of daily event counts per type by
    method of moments — r = μ²/(σ²−μ), p = μ/σ² — the two-parameter
    count model you reach for the moment the dispersion ratio σ²/μ
    leaves 1 (Poisson's fingerprint; stats_poisson_gof tests it
    formally). Underdispersed types get NULL parameters rather than
    a nonsensical negative r. One rollup, closed forms, no
    likelihood iteration. Ref: reference count-model tests."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.avg("y").alias("mu"),
        F.var_samp("y").alias("v"),
    )
    mu, v = F.col("mu"), F.col("v")
    return m.select(
        "event_type",
        "n_days",
        F.round(mu, 6).alias("mean_daily"),
        F.round(v, 6).alias("var_daily"),
        F.round(v / mu, 6).alias("dispersion_ratio"),
        F.round(F.when(v > mu, mu * mu / (v - mu)), 6).alias("nb_r"),
        F.round(F.when(v > mu, mu / v), 6).alias("nb_p"),
        (v / mu > 1.5).alias("overdispersed"),
    )


# --------------------------------------------------------------------------
# Promise-setting: p90 business-day lag as the promise, then attainment
# --------------------------------------------------------------------------
@query(
    "orders_promise_attainment",
    oracle=f"""
    WITH j AS (
      SELECT o.o_orderpriority AS prio,
             (5 * CAST(floor(date_diff('day', DATE '{_EPOCH_MON}',
                                       CAST(l.l_shipdate AS DATE)) / 7.0)
                   AS BIGINT)
              + least(date_diff('day', DATE '{_EPOCH_MON}',
                                CAST(l.l_shipdate AS DATE))
                      - 7 * CAST(floor(date_diff('day', DATE '{_EPOCH_MON}',
                                       CAST(l.l_shipdate AS DATE)) / 7.0)
                             AS BIGINT), 5))
             - (5 * CAST(floor(date_diff('day', DATE '{_EPOCH_MON}',
                                         CAST(o.o_orderdate AS DATE)) / 7.0)
                     AS BIGINT)
                + least(date_diff('day', DATE '{_EPOCH_MON}',
                                  CAST(o.o_orderdate AS DATE))
                        - 7 * CAST(floor(date_diff('day',
                                         DATE '{_EPOCH_MON}',
                                         CAST(o.o_orderdate AS DATE)) / 7.0)
                               AS BIGINT), 5)) AS busdays
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    promise AS (
      SELECT prio, ceil(quantile_cont(CAST(busdays AS DOUBLE), 0.9))
               AS promise_bd
      FROM j GROUP BY prio
    )
    SELECT j.prio AS o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(max(promise.promise_bd) AS BIGINT) AS promise_busdays,
           round(CAST(count(*) FILTER (j.busdays <= promise.promise_bd)
                      AS DOUBLE) / count(*), 6) AS attainment,
           round(avg(CASE WHEN j.busdays > promise.promise_bd
                          THEN CAST(j.busdays - promise.promise_bd
                                    AS DOUBLE) END), 6)
             AS mean_miss_days
    FROM j JOIN promise ON j.prio = promise.prio
    GROUP BY j.prio
    """,
)
def orders_promise_attainment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promise-setting the way ops actually does it: set each
    priority's delivery promise at the CEILING of its p90
    business-day lag, then measure attainment against that promise
    and how badly the misses miss. Self-referential on purpose —
    attainment lands near 90% by construction, and the deviation
    from 90% is the lumpiness of the lag distribution. The busday
    arithmetic is the epoch-Monday closed form (orders_busday_lag);
    the promise is one grouped quantile broadcast back. Ref:
    reference SLA-calibration tests (cf. events_error_budget)."""
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    epoch_mon = F.lit(_EPOCH_MON).cast("date")

    def cum(col):
        t = F.datediff(col.cast("date"), epoch_mon)
        full = F.floor(t / 7.0).cast("bigint")
        return 5 * full + F.least(t - 7 * full, F.lit(5).cast("bigint"))

    # lazy localCheckpoint: the busday frame feeds the p90 promise agg
    # AND the attainment rollup — unmaterialized, both replayed the
    # lineitem ⋈ orders join. Two narrow columns per line.
    j = li.join(od, li.l_orderkey == od.o_orderkey).select(
        F.col("o_orderpriority").alias("prio"),
        (cum(F.col("l_shipdate")) - cum(F.col("o_orderdate"))).alias("busdays"),
    ).localCheckpoint(eager=False)
    promise = j.groupBy("prio").agg(
        F.ceil(F.percentile(F.col("busdays").cast("double"), 0.9)).alias(
            "promise_bd"
        )
    )
    jj = j.join(F.broadcast(promise), "prio")
    return jj.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.max("promise_bd").cast("bigint").alias("promise_busdays"),
        F.round(
            F.count(F.when(F.col("busdays") <= F.col("promise_bd"), 1)).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("attainment"),
        F.round(
            F.avg(
                F.when(
                    F.col("busdays") > F.col("promise_bd"),
                    (F.col("busdays") - F.col("promise_bd")).cast("double"),
                )
            ),
            6,
        ).alias("mean_miss_days"),
    )


# --------------------------------------------------------------------------
# Effective sample size of three corpus-weighting schemes
# --------------------------------------------------------------------------
@query(
    "train_ess_weights",
    oracle="""
    WITH w AS (
      SELECT CAST(len(string_split(text, ' ')) AS DOUBLE) AS w_len,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS w_qual,
             1.0 AS w_unif
      FROM documents
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(w_unif) AS s1u, sum(w_unif * w_unif) AS s2u,
             sum(w_len) AS s1l, sum(w_len * w_len) AS s2l,
             sum(w_qual) AS s1q, sum(w_qual * w_qual) AS s2q
      FROM w
    )
    SELECT 'uniform' AS scheme, CAST(n AS BIGINT) AS n_docs,
           round(s1u * s1u / s2u, 6) AS ess,
           round(s1u * s1u / s2u / n, 6) AS ess_ratio
    FROM s
    UNION ALL
    SELECT 'by_length', CAST(n AS BIGINT),
           round(s1l * s1l / s2l, 6), round(s1l * s1l / s2l / n, 6)
    FROM s
    UNION ALL
    SELECT 'by_quality', CAST(n AS BIGINT),
           round(s1q * s1q / s2q, 6), round(s1q * s1q / s2q / n, 6)
    FROM s
    """,
)
def train_ess_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of three corpus-weighting schemes —
    uniform, by token length, by quality score — via Kish's
    ESS = (Σw)²/Σw²: the honest count of how many 'real' examples a
    weighted mix behaves like (uniform gives exactly n; skewed
    weights shrink it, and ESS/n is the fraction of data the scheme
    effectively keeps). All six sums come from ONE aggregation; the
    three report rows are projections of it. Ref: reference
    weighting-diagnostic tests (cf. mix_weights,
    mix_weighted_sample)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    w = docs.select(
        F.size(toks).cast("double").alias("w_len"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "w_qual"
        ),
        F.lit(1.0).alias("w_unif"),
    )
    s = w.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("w_unif").alias("s1u"),
        F.sum(F.col("w_unif") * F.col("w_unif")).alias("s2u"),
        F.sum("w_len").alias("s1l"),
        F.sum(F.col("w_len") * F.col("w_len")).alias("s2l"),
        F.sum("w_qual").alias("s1q"),
        F.sum(F.col("w_qual") * F.col("w_qual")).alias("s2q"),
    )
    rows = []
    for name, s1, s2 in (
        ("uniform", "s1u", "s2u"),
        ("by_length", "s1l", "s2l"),
        ("by_quality", "s1q", "s2q"),
    ):
        ess = F.col(s1) * F.col(s1) / F.col(s2)
        rows.append(
            s.select(
                F.lit(name).alias("scheme"),
                F.col("n").cast("bigint").alias("n_docs"),
                F.round(ess, 6).alias("ess"),
                F.round(ess / F.col("n"), 6).alias("ess_ratio"),
            )
        )
    out = rows[0]
    for df in rows[1:]:
        out = out.unionAll(df)
    return out
