"""Contract keys: ``pipeline_lineage``, ``events_retention_halflife``.

Config-derived pipeline lineage and retention
half-life.

Scale notes:

- ``pipeline_lineage``: lineage comes from the SPEC, not the cluster —
  a constant-time read of the job config (the reference family's
  whole operating model is config-declared jobs, so impact analysis
  'what breaks if this feed changes' must be answerable without
  running anything). The oracle is the expected edge list as a VALUES
  literal: the contract pins the lineage extraction itself.
- ``events_retention_halflife``: pooled day-n return rates for
  n = 1..14 from two rollups (first-seen day, active (user, day)
  pairs), then a log-linear fit — the single 'how fast do users
  decay' number distilled from the retention curve.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import guarded
from etl_framework_spark.registry import query

_MAX_N = 14


# --------------------------------------------------------------------------
# Pipeline lineage — impact analysis straight from the job config
# --------------------------------------------------------------------------
def _lineage_oracle() -> str:
    # the curation job's expected lineage, pinned as literal rows
    rows = [
        (0, "documents", "source:parquet", None, None),
        (1, "gated", "filter", "documents", None),
        (2, "normed", "with_columns", "gated", None),
        (3, "deduped", "dedup", "normed", None),
        (4, "report", "aggregate", "deduped", None),
    ]
    vals = ", ".join(
        "({}, '{}', '{}', {}, {})".format(
            i,
            rel,
            op,
            f"'{inp}'" if inp else "CAST(NULL AS VARCHAR)",
            f"'{r}'" if r else "CAST(NULL AS VARCHAR)",
        )
        for i, rel, op, inp, r in rows
    )
    return f"""
    SELECT CAST(step_idx AS INT) AS step_idx, relation, op,
           input_rel, right_rel
    FROM (VALUES {vals}) t(step_idx, relation, op, input_rel, right_rel)
    """


@query("pipeline_lineage", oracle=_lineage_oracle())
def pipeline_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static lineage of the curation job (pipeline_curation's spec)
    extracted by the engine's Pipeline.lineage(): one row per declared
    relation with its op and upstream input — the audit/impact-
    analysis surface of a config-driven ETL framework, derivable
    before anything executes. The oracle pins the EXPECTED edge list
    as literals, so any drift in either the spec or the lineage
    extractor fails the contract. Constant-size output by definition;
    nothing is scanned (the one engine feature that costs zero I/O at
    any scale)."""
    from etl_framework_spark.pipeline import Pipeline
    from etl_framework_spark.queries.skyline_winnow import curation_spec

    rows = Pipeline(curation_spec(sf_dir)).lineage()
    return guarded.local_frame(
        spark,
        [
            (
                r["step_idx"],
                r["relation"],
                r["op"],
                r["input_rel"],
                r["right_rel"],
            )
            for r in rows
        ],
        "step_idx INT, relation STRING, op STRING,"
        " input_rel STRING, right_rel STRING",
    )


# --------------------------------------------------------------------------
# Retention half-life — exponential-decay fit to the return curve
# --------------------------------------------------------------------------
@query(
    "events_retention_halflife",
    oracle=f"""
    WITH fs AS (
      SELECT user_id, min(date_trunc('day', ts)) AS first_day
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ),
    cohort AS (SELECT CAST(count(*) AS DOUBLE) AS n_cohort FROM fs),
    rets AS (
      SELECT datediff('day', f.first_day, a.day) AS n,
             CAST(count(DISTINCT a.user_id) AS DOUBLE) AS returned
      FROM active a JOIN fs f ON f.user_id = a.user_id
      WHERE datediff('day', f.first_day, a.day) BETWEEN 1 AND {_MAX_N}
      GROUP BY n
    ),
    pts AS (
      SELECT CAST(n AS DOUBLE) AS n,
             ln(returned / (SELECT n_cohort FROM cohort)) AS lr,
             returned / (SELECT n_cohort FROM cohort) AS r
      FROM rets WHERE returned > 0
    ),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n_points,
             regr_slope(lr, n) AS slope,
             min(CASE WHEN n = 1 THEN r END) AS r1,
             min(CASE WHEN n = 7 THEN r END) AS r7
      FROM pts
    )
    SELECT n_points,
           round(slope, 6) AS decay_slope,
           round(CASE WHEN slope < 0 THEN -ln(2) / slope END, 4)
             AS halflife_days,
           round(r1, 6) AS retention_d1,
           round(r7, 6) AS retention_d7
    FROM fit WHERE n_points >= 3
    """,
)
def events_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life: fit ln(return rate at day n) against n for
    n = 1..{_MAX_N} (pooled over all cohorts) and report −ln2/slope —
    the 'days until half the returning users are gone' number that
    compresses the whole retention curve into one comparable metric
    (plus the raw d1/d7 rates analysts quote). Two rollups (first-seen
    day per user, distinct active (user, day)) joined on user_id, a
    ≤{_MAX_N}-row regression via regr_slope sufficient statistics.
    Heavy-user synthetic data keeps rates near 1, so the half-life is
    long — the CONTRACT is the estimator, certified by the oracle."""
    e = table(spark, sf_dir, "events")
    fs = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    active = e.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    n_cohort = fs.agg(F.count("*").cast("double").alias("n_cohort"))
    rets = (
        active.join(fs, "user_id")
        .select(F.datediff("day", "first_day").alias("n"), "user_id")
        .filter(F.col("n").between(1, _MAX_N))
        .groupBy("n")
        .agg(F.countDistinct("user_id").cast("double").alias("returned"))
    )
    pts = (
        rets.crossJoin(F.broadcast(n_cohort))
        .filter(F.col("returned") > 0)
        .select(
            F.col("n").cast("double").alias("n"),
            F.log(F.col("returned") / F.col("n_cohort")).alias("lr"),
            (F.col("returned") / F.col("n_cohort")).alias("r"),
        )
    )
    fit = pts.agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.regr_slope("lr", "n").alias("slope"),
        F.min(F.when(F.col("n") == 1, F.col("r"))).alias("r1"),
        F.min(F.when(F.col("n") == 7, F.col("r"))).alias("r7"),
    )
    return fit.filter(F.col("n_points") >= 3).select(
        "n_points",
        F.round("slope", 6).alias("decay_slope"),
        F.round(
            F.when(F.col("slope") < 0, -float(__import__("math").log(2)) / F.col("slope")),
            4,
        ).alias("halflife_days"),
        F.round("r1", 6).alias("retention_d1"),
        F.round("r7", 6).alias("retention_d7"),
    )
