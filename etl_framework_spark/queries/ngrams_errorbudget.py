"""Contract keys: ``llm_distinctive_ngrams``, ``events_error_budget``,
``stats_capture_recapture``.

Distinctive n-grams, SLO error budgets, and
capture-recapture population estimation.

Scale notes:

- ``llm_distinctive_ngrams``: the per-source lift
  (c_sg·N)/(n_s·c_g) is pure integer-ratio arithmetic — bit-exact
  ranking with a bigram tie-break; work is one bigram explode and two
  partial-agg shuffles, and the rank window runs per source on
  min-support-filtered bigrams only.
- ``events_error_budget``: daily integer counts → running sums via
  one ordered window; constant |days| output.
- ``stats_capture_recapture``: three distinct-count aggregates and a
  closed-form estimator — the classic trick for estimating a
  population you can only sample (total users when logs are
  incomplete), certified here against the KNOWN truth.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_MIN_SUP = 5
_TOPG = 5
_BUDGET = 0.01  # 1% error budget


# --------------------------------------------------------------------------
# Distinctive n-grams — per-source bigram lift over the corpus rate
# --------------------------------------------------------------------------
@query(
    "llm_distinctive_ngrams",
    oracle=f"""
    WITH t AS (SELECT source, string_split(text, ' ') AS l FROM documents),
    bg AS (
      SELECT source, l[i] || ' ' || l[i + 1] AS big
      FROM (SELECT source, l, unnest(generate_series(1, len(l) - 1)) AS i
            FROM t WHERE len(l) >= 2)
    ),
    per_src AS (SELECT source, big, CAST(count(*) AS BIGINT) AS c_sg
                FROM bg GROUP BY source, big),
    corpus AS (SELECT big, CAST(sum(c_sg) AS BIGINT) AS c_g
               FROM per_src GROUP BY big),
    src_tot AS (SELECT source, CAST(sum(c_sg) AS BIGINT) AS n_s
                FROM per_src GROUP BY source),
    tot AS (SELECT CAST(sum(c_g) AS BIGINT) AS n FROM corpus),
    lifts AS (
      SELECT p.source, p.big, p.c_sg,
             (CAST(p.c_sg AS DOUBLE) * (SELECT n FROM tot))
               / (CAST(s.n_s AS DOUBLE) * c.c_g) AS lift
      FROM per_src p
      JOIN src_tot s ON s.source = p.source
      JOIN corpus c ON c.big = p.big
      WHERE p.c_sg >= {_MIN_SUP}
    )
    SELECT source, big, c_sg AS n_occurrences,
           round(lift, 6) AS lift, rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY lift DESC, big) AS rnk
          FROM lifts)
    WHERE rnk <= {_TOPG}
    """,
)
def llm_distinctive_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-{_TOPG} most DISTINCTIVE bigrams per source by lift —
    P(bigram | source) / P(bigram | corpus) — the corpus-exploration
    report that names what a slice talks about that the rest does
    not (and the fast way to spot boilerplate: a navigation template
    shows lift ≫ 1 on its menu phrases). Lift reduces to the integer
    ratio c_sg·N / (n_s·c_g) evaluated identically on both engines,
    so the per-source ranking (lift desc, bigram asc) is a bit-exact
    total order with no rounding needed before the window. Min
    support {_MIN_SUP} keeps the ranked set small; everything is two
    partial-agg shuffles over one bigram explode."""
    d = table(spark, sf_dir, "documents")
    t = d.select("source", F.split("text", " ").alias("l")).filter(
        F.size("l") >= 2
    )
    bg = t.select(
        "source",
        F.explode(
            F.zip_with(
                F.slice(F.col("l"), 1, F.size("l") - 1),
                F.slice(F.col("l"), 2, F.size("l") - 1),
                lambda x, y: F.concat_ws(" ", x, y),
            )
        ).alias("big"),
    )
    per_src = bg.groupBy("source", "big").agg(
        F.count("*").cast("bigint").alias("c_sg")
    )
    corpus = per_src.groupBy("big").agg(
        F.sum("c_sg").cast("bigint").alias("c_g")
    )
    src_tot = per_src.groupBy("source").agg(
        F.sum("c_sg").cast("bigint").alias("n_s")
    )
    tot = corpus.agg(F.sum("c_g").cast("bigint").alias("n"))
    lifts = (
        per_src.filter(F.col("c_sg") >= _MIN_SUP)
        .join(F.broadcast(src_tot), "source")
        .join(corpus, "big")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "big",
            "c_sg",
            (
                F.col("c_sg").cast("double") * F.col("n")
                / (F.col("n_s").cast("double") * F.col("c_g"))
            ).alias("lift"),
        )
    )
    w = W.partitionBy("source").orderBy(F.col("lift").desc(), "big")
    return (
        lifts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPG)
        .select(
            "source",
            "big",
            F.col("c_sg").alias("n_occurrences"),
            F.round("lift", 6).alias("lift"),
            "rnk",
        )
    )


# --------------------------------------------------------------------------
# SLO error budget — daily burn rate and remaining budget
# --------------------------------------------------------------------------
@query(
    "events_error_budget",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(*) FILTER (event_type = 'error') AS BIGINT)
               AS n_errors
      FROM events GROUP BY day
    ),
    run AS (
      SELECT day, n_events, n_errors,
             sum(n_events) OVER (ORDER BY day) AS cum_events,
             sum(n_errors) OVER (ORDER BY day) AS cum_errors
      FROM daily
    )
    SELECT day, n_events, n_errors,
           round(CAST(n_errors AS DOUBLE) / n_events, 6) AS error_rate,
           round(CAST(n_errors AS DOUBLE) / n_events / {_BUDGET}, 6)
             AS burn_rate,
           round(1 - CAST(cum_errors AS DOUBLE)
                     / (CAST(cum_events AS DOUBLE) * {_BUDGET}), 6)
             AS budget_remaining,
           CAST(cum_errors AS DOUBLE)
             > CAST(cum_events AS DOUBLE) * {_BUDGET} AS budget_breached
    FROM run
    """,
)
def events_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn-down at a 1% budget: per day, the error
    rate, the burn rate (rate/budget — burn > 1 means that day spent
    more than its share), the month-to-date budget remaining, and the
    breach flag — the exact table an SRE burn-rate alert reads. All
    counts integer, running sums over the |days| rollup via one
    ordered window; the output is |days| rows at any scale and every
    value is integer-ratio arithmetic (bit-exact)."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_errors"),
    )
    w = W.orderBy("day")
    run = daily.withColumn(
        "cum_events", F.sum("n_events").over(w)
    ).withColumn("cum_errors", F.sum("n_errors").over(w))
    rate = F.col("n_errors").cast("double") / F.col("n_events")
    cum_rate = F.col("cum_errors").cast("double") / (
        F.col("cum_events").cast("double") * _BUDGET
    )
    return run.select(
        "day",
        "n_events",
        "n_errors",
        F.round(rate, 6).alias("error_rate"),
        F.round(rate / _BUDGET, 6).alias("burn_rate"),
        F.round(1 - cum_rate, 6).alias("budget_remaining"),
        (
            F.col("cum_errors").cast("double")
            > F.col("cum_events").cast("double") * _BUDGET
        ).alias("budget_breached"),
    )


# --------------------------------------------------------------------------
# Capture-recapture — Chapman estimate of the user population
# --------------------------------------------------------------------------
@query(
    "stats_capture_recapture",
    oracle="""
    WITH w1 AS (SELECT DISTINCT user_id FROM events
                WHERE date_trunc('day', ts)
                      < (SELECT min(date_trunc('day', ts)) FROM events)
                        + INTERVAL 7 DAY),
    w2 AS (SELECT DISTINCT user_id FROM events
           WHERE date_trunc('day', ts)
                 >= (SELECT min(date_trunc('day', ts)) FROM events)
                   + INTERVAL 7 DAY
             AND date_trunc('day', ts)
                 < (SELECT min(date_trunc('day', ts)) FROM events)
                   + INTERVAL 14 DAY),
    s AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM w1) AS n1,
             (SELECT CAST(count(*) AS BIGINT) FROM w2) AS n2,
             (SELECT CAST(count(*) AS BIGINT)
              FROM w1 JOIN w2 USING (user_id)) AS m,
             (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
               AS true_total
    )
    SELECT n1, n2, m, true_total,
           round((CAST(n1 + 1 AS DOUBLE)) * (n2 + 1) / (m + 1) - 1, 4)
             AS n_hat,
           round(((CAST(n1 + 1 AS DOUBLE)) * (n2 + 1) / (m + 1) - 1
                  - true_total) / true_total, 6) AS rel_err
    FROM s WHERE m > 0
    """,
)
def stats_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the total user
    population from two week-long observation windows: N̂ =
    (n₁+1)(n₂+1)/(m+1) − 1, where m is the week-over-week overlap —
    the ecology-borrowed trick for sizing a population you only
    sample (all users when any single window misses the infrequent
    ones). The synthetic data KNOWS the truth, so the key reports the
    estimator's relative error next to it — an honest calibration,
    not an article of faith. Three distinct-count aggregates and one
    broadcast-sized semi-join; constant output."""
    e = table(spark, sf_dir, "events")
    d0 = e.agg(F.min(F.date_trunc("day", "ts")).alias("d0"))
    tagged = e.crossJoin(F.broadcast(d0)).select(
        "user_id",
        F.datediff(F.date_trunc("day", F.col("ts")), F.col("d0")).alias("dd"),
    )
    w1 = tagged.filter(F.col("dd") < 7).select("user_id").distinct()
    w2 = (
        tagged.filter((F.col("dd") >= 7) & (F.col("dd") < 14))
        .select("user_id")
        .distinct()
    )
    s = (
        w1.agg(F.count("*").cast("bigint").alias("n1"))
        .crossJoin(w2.agg(F.count("*").cast("bigint").alias("n2")))
        .crossJoin(
            w1.join(w2, "user_id").agg(
                F.count("*").cast("bigint").alias("m")
            )
        )
        .crossJoin(
            e.agg(
                F.countDistinct("user_id").cast("bigint").alias("true_total")
            )
        )
    )
    n_hat = (F.col("n1") + 1).cast("double") * (F.col("n2") + 1) / (
        F.col("m") + 1
    ) - 1
    return s.filter(F.col("m") > 0).select(
        "n1",
        "n2",
        "m",
        "true_total",
        F.round(n_hat, 4).alias("n_hat"),
        F.round((n_hat - F.col("true_total")) / F.col("true_total"), 6).alias(
            "rel_err"
        ),
    )
