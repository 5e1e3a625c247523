"""Contract keys: ``events_ab_srm``, ``sketch_cms_width_sweep``.

Experiment guardrails and sketch sizing.

Scale notes:

- ``events_ab_srm``: the sample-ratio-mismatch guardrail — a χ²(1)
  goodness-of-fit on arm sizes against the declared 50/50 split. SRM
  is the first thing a trustworthy experimentation platform checks
  (a significant mismatch voids the experiment before anyone reads
  the metric); one partial-agg shuffle to 2 rows.
- ``sketch_cms_width_sweep``: Count-Min error vs width — the sketch
  SIZING curve: for each width on a power-of-two grid, the top-20
  tokens' mean/max overestimate. Counter tables are d×w fixed-size
  mergeable aggregates per width (the widths explode from the same
  hashed token reduction — one corpus scan total); the report shows
  error halving as width doubles, which is the ~1/w CMS bound made
  visible.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import guarded
from etl_framework_spark.registry import query

_CHI1_CRIT = 3.841458820694124  # chi-square(1) 95% critical value

_CMS_D2 = 4
_CMS_WIDTHS = [16, 32, 64, 128]
_CMS_TOP2 = 20


# --------------------------------------------------------------------------
# Experimentation — sample-ratio-mismatch (SRM) guardrail
# --------------------------------------------------------------------------
@query(
    "events_ab_srm",
    oracle=f"""
    WITH tagged AS (
      SELECT DISTINCT user_id,
             CAST(CASE WHEN ((user_id % 1000000007) * 2654435761) % 4294967296
                       >= 2147483648 THEN 1 ELSE 0 END AS INT) AS arm
      FROM events
    ),
    arms AS (SELECT arm, CAST(count(*) AS DOUBLE) AS n
             FROM tagged GROUP BY arm),
    wide AS (SELECT max(CASE WHEN arm = 0 THEN n END) AS n0,
                    max(CASE WHEN arm = 1 THEN n END) AS n1
             FROM arms)
    SELECT CAST(n0 AS BIGINT) AS n0,
           CAST(n1 AS BIGINT) AS n1,
           round((n0 - (n0 + n1) / 2.0) * (n0 - (n0 + n1) / 2.0)
                   / ((n0 + n1) / 2.0)
                 + (n1 - (n0 + n1) / 2.0) * (n1 - (n0 + n1) / 2.0)
                   / ((n0 + n1) / 2.0), 6) AS chi2,
           (n0 - (n0 + n1) / 2.0) * (n0 - (n0 + n1) / 2.0)
             / ((n0 + n1) / 2.0)
           + (n1 - (n0 + n1) / 2.0) * (n1 - (n0 + n1) / 2.0)
             / ((n0 + n1) / 2.0) > {_CHI1_CRIT} AS srm_detected
    FROM wide
    """,
)
def events_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the A/B assignment
    (same high-bit hash split as events_ab_test): χ²(1) goodness of
    fit of the observed arm sizes against the declared 50/50 ratio,
    counted at the RANDOMIZATION UNIT — distinct users, not events
    (an event-level χ² is miscalibrated because per-user volumes
    cluster within arms: on this very data it false-alarms at
    χ²≈4-7 while the user-level test is clean — the classic
    unit-of-analysis bug this operator exists to prevent). A
    significant SRM means assignment or logging is broken and the
    readout is void. One distinct-user reduction + 2-row rollup."""
    ev = table(spark, sf_dir, "events")
    arm = (
        F.when(
            F.pmod((F.col("user_id") % 1000000007) * 2654435761, F.lit(4294967296))
            >= 2147483648,
            1,
        )
        .otherwise(0)
        .cast("int")
    )
    arms = (
        ev.select("user_id", arm.alias("arm"))
        .distinct()
        .groupBy("arm")
        .agg(F.count("*").cast("double").alias("n"))
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
    )
    exp = (F.col("n0") + F.col("n1")) / 2.0
    chi2 = (F.col("n0") - exp) * (F.col("n0") - exp) / exp + (
        F.col("n1") - exp
    ) * (F.col("n1") - exp) / exp
    return wide.select(
        F.col("n0").cast("bigint").alias("n0"),
        F.col("n1").cast("bigint").alias("n1"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > _CHI1_CRIT).alias("srm_detected"),
    )


# --------------------------------------------------------------------------
# Sketch sizing — Count-Min overestimate vs width
# --------------------------------------------------------------------------
def _cms2_bucket_duck(j: str, tok: str, w: str) -> str:
    return (
        f"CAST(('0x' || substr(md5({j} || ':' || {tok}), 1, 8))::UBIGINT"
        f" % {w} AS BIGINT)"
    )


@query(
    "sketch_cms_width_sweep",
    oracle=f"""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
                 FROM documents),
    freq AS (SELECT tok, count(*) AS freq FROM tok GROUP BY tok),
    grid AS (SELECT unnest([{", ".join(str(w) for w in _CMS_WIDTHS)}]) AS w),
    hashed AS (
      SELECT f.tok, f.freq, g.w, j.j,
             {_cms2_bucket_duck("j.j::VARCHAR", "f.tok", "g.w")} AS bucket
      FROM freq f
      CROSS JOIN grid g
      CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D2 - 1})) AS j) j
    ),
    counters AS (
      SELECT w, j, bucket, sum(freq) AS counter
      FROM hashed GROUP BY w, j, bucket
    ),
    top AS (SELECT tok, freq FROM freq
            ORDER BY freq DESC, tok LIMIT {_CMS_TOP2}),
    probe AS (
      SELECT t.tok, t.freq, h.w, h.j, h.bucket
      FROM top t JOIN hashed h ON h.tok = t.tok
    ),
    est AS (
      SELECT p.tok, p.freq, p.w, min(c.counter) AS cms
      FROM probe p
      JOIN counters c ON c.w = p.w AND c.j = p.j AND c.bucket = p.bucket
      GROUP BY p.tok, p.freq, p.w
    )
    SELECT CAST(w AS BIGINT) AS width,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(cms - freq) AS BIGINT) AS total_overestimate,
           round(avg(cms - freq), 6) AS mean_overestimate,
           CAST(max(cms - freq) AS BIGINT) AS max_overestimate
    FROM est GROUP BY w
    """,
)
def sketch_cms_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sizing curve: the top-{_CMS_TOP2} tokens' estimate
    error at widths {{16, 32, 64, 128}} (4 deterministic md5 hash
    rows each, exact oracle as in sketch_cms) — the report that
    turns the theoretical ~N/w overestimate bound into a measured
    curve you size memory budgets with. One token-frequency
    reduction feeds every width; counter tables stay fixed-size
    mergeable aggregates per width."""
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    grid = guarded.local_frame(
        spark,
        [(w,) for w in _CMS_WIDTHS], "w int"
    )
    hashed = (
        freq.crossJoin(F.broadcast(grid))
        .select(
            "tok",
            "freq",
            "w",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            (
                                F.conv(
                                    F.substring(
                                        F.md5(
                                            F.concat(
                                                F.lit(f"{j}:"), F.col("tok")
                                            )
                                        ),
                                        1,
                                        8,
                                    ),
                                    16,
                                    10,
                                ).cast("long")
                                % F.col("w")
                            ).alias("bucket"),
                        )
                        for j in range(_CMS_D2)
                    ]
                )
            ).alias("h"),
        )
        .select("tok", "freq", "w", F.col("h.j").alias("j"),
                F.col("h.bucket").alias("bucket"))
    )
    counters = hashed.groupBy("w", "j", "bucket").agg(
        F.sum("freq").alias("counter")
    )
    top = freq.orderBy(F.col("freq").desc(), "tok").limit(_CMS_TOP2)
    probe = top.join(hashed.select("tok", "w", "j", "bucket"), "tok")
    est = (
        probe.join(F.broadcast(counters), ["w", "j", "bucket"])
        .groupBy("tok", "freq", "w")
        .agg(F.min("counter").alias("cms"))
    )
    over = F.col("cms") - F.col("freq")
    return est.groupBy("w").agg(
        F.count("*").cast("bigint").alias("n_probes"),
        F.sum(over).cast("bigint").alias("total_overestimate"),
        F.round(F.avg(over), 6).alias("mean_overestimate"),
        F.max(over).cast("bigint").alias("max_overestimate"),
    ).select(
        F.col("w").cast("bigint").alias("width"),
        "n_probes",
        "total_overestimate",
        "mean_overestimate",
        "max_overestimate",
    )
