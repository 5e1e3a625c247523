"""Contract keys: ``llm_dedup_containment``, ``ts_changepoint``,
``stats_bootstrap_ci``.

Containment dedup, changepoint localization, and
the Poisson bootstrap.

Scale notes:

- ``llm_dedup_containment``: same explode → equi-join candidate
  generation as blocked_jaccard (zero-overlap pairs never exist);
  containment |A∩B|/min(|A|,|B|) is the ASYMMETRIC dup test that
  catches a short doc quoted inside a long one, which Jaccard's
  symmetric denominator dilutes below threshold.
- ``ts_changepoint``: argmax-|CUSUM| localization on the hourly
  spine; n·S_t = n·cumsum_t − t·total keeps every statistic BIGINT
  until the final scalar division — bit-exact on any partitioning.
- ``stats_bootstrap_ci``: the POISSON bootstrap — the only bootstrap
  that works on distributed data, because each row draws its own
  independent replication weight per resample (no global multinomial
  coordination): rows × B weighted copies, one partial-agg shuffle on
  the resample id, percentile over B means. B is a constant, so cost
  is B× one scan regardless of cluster size, and weights come from a
  deterministic integer hash both engines replay.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.textops import tokens
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

_CONT_MIN = 0.9
_B = 64  # bootstrap resamples
_HA = 1315423911
_HB = 2654435761
# Poisson(1) pmf thresholds out of 1000: P(0)=.368 P(1)=.368 P(2)=.184
# P(3)=.061 P(4)=.015 P(5+)≈.004
_POIS = "(CASE WHEN {h} < 368 THEN 0 WHEN {h} < 736 THEN 1 WHEN {h} < 920 THEN 2 WHEN {h} < 981 THEN 3 WHEN {h} < 996 THEN 4 ELSE 5 END)"


# --------------------------------------------------------------------------
# Asymmetric containment dedup — |A∩B| / min(|A|,|B|)
# --------------------------------------------------------------------------
@query(
    "llm_dedup_containment",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, source,
             list_distinct(list_filter(string_split(text, ' '),
                                       x -> x <> '')) AS ts2
      FROM documents
    ),
    ex AS (SELECT doc_id, lang, source, unnest(ts2) AS tok FROM t),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM ex a JOIN ex b
        ON a.lang = b.lang AND a.source = b.source
       AND a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, n_common,
           round(CAST(n_common AS DOUBLE)
                 / least(len(ta.ts2), len(tb.ts2)), 6) AS containment
    FROM common
    JOIN t ta ON ta.doc_id = id_a
    JOIN t tb ON tb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / least(len(ta.ts2), len(tb.ts2))
          >= {_CONT_MIN}
    """,
)
def llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: |A∩B| / min(|A|,|B|) over distinct
    token sets of (lang, source)-blocked pairs, kept at ≥ 0.9 — the
    test that catches a short document fully QUOTED inside a longer
    one, which symmetric Jaccard dilutes below any sane threshold
    (|A∩B|/|A∪B| → |A|/|B| for A ⊂ B). Candidates come from the
    blocked_jaccard_pairs shape — explode distinct tokens, equi-join
    on (lang, source, token) — so |A∩B| is a join-group count, pairs
    with zero overlap never materialize, and set sizes join back from
    the tiny per-doc relation. All counts integer → exact on any
    partitioning."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(
            F.filter(tokens("text"), lambda x: x != "")
        ).alias("ts2"),
    ).transform(persist_tracked)
    ex = t.select("doc_id", "lang", "source", F.explode("ts2").alias("tok"))
    a = ex.select(F.col("doc_id").alias("id_a"), "lang", "source", "tok")
    b = ex.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("tok").alias("tok_b"),
    )
    common = (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("source") == F.col("source_b"))
            & (F.col("tok") == F.col("tok_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    sizes = t.select("doc_id", F.size("ts2").alias("sz"))
    cont = F.col("n_common").cast("double") / F.least(F.col("sa"), F.col("sb"))
    return (
        common.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sa")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sb")),
            "id_b",
        )
        .filter(cont >= _CONT_MIN)
        .select("id_a", "id_b", "n_common", F.round(cont, 6).alias("containment"))
    )


# --------------------------------------------------------------------------
# CUSUM changepoint localization — argmax |n·S_t| on the hourly spine
# --------------------------------------------------------------------------
@query(
    "ts_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
      FROM events GROUP BY event_type, hr
    ),
    cal AS (SELECT unnest(generate_series(
              (SELECT min(hr) FROM hourly),
              (SELECT max(hr) FROM hourly), INTERVAL 1 HOUR)) AS hr),
    types AS (SELECT DISTINCT event_type FROM hourly),
    spine AS (
      SELECT t.event_type, c.hr, CAST(coalesce(d.n, 0) AS BIGINT) AS x,
             row_number() OVER (PARTITION BY t.event_type ORDER BY c.hr)
               AS rn
      FROM types t CROSS JOIN cal c
      LEFT JOIN hourly d ON d.event_type = t.event_type AND d.hr = c.hr
    ),
    cum AS (
      SELECT event_type, hr, rn,
             count(*) OVER (PARTITION BY event_type) AS n_tot,
             sum(x) OVER (PARTITION BY event_type ORDER BY rn) AS cs,
             sum(x) OVER (PARTITION BY event_type) AS tot
      FROM spine
    ),
    scored AS (
      SELECT event_type, hr, rn, n_tot, cs, tot,
             abs(n_tot * cs - rn * tot) AS ns_abs,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(n_tot * cs - rn * tot) DESC, rn)
               AS pick
      FROM cum WHERE rn < n_tot
    )
    SELECT event_type, hr AS change_hr,
           round(CAST(ns_abs AS DOUBLE) / n_tot, 6) AS cusum_peak,
           round(CAST(cs AS DOUBLE) / rn, 6) AS mean_before,
           round(CAST(tot - cs AS DOUBLE) / (n_tot - rn), 6) AS mean_after
    FROM scored WHERE pick = 1
    """,
)
def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint localization per event type: the hour τ
    maximizing |CUSUM| of the zero-filled hourly volume — the first
    split binary segmentation would make, and the standard 'when did
    the level shift' answer. Everything stays BIGINT until the final
    display division: n·S_t = n·cumsum_t − t·total, the argmax picks
    the largest |n·S_t| (earliest hour on ties → total order), and
    mean_before/mean_after are rational in integers — so the result
    is bit-exact under any partitioning. Runs entirely on the
    |types|×|hours| spine; raw volume only matters in the first
    rollup."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("n"))
    bounds = hourly.agg(F.min("hr").alias("d0"), F.max("hr").alias("d1"))
    cal = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 hour"))).alias("hr")
    )
    types = hourly.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(cal))
        .join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type",
            "hr",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("x"),
        )
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("event_type").orderBy("hr")),
        )
    )
    wt = W.partitionBy("event_type")
    cum = (
        spine.withColumn("n_tot", F.count("*").over(wt))
        .withColumn("cs", F.sum("x").over(wt.orderBy("rn")))
        .withColumn("tot", F.sum("x").over(wt))
        .filter(F.col("rn") < F.col("n_tot"))
        .withColumn(
            "ns_abs", F.abs(F.col("n_tot") * F.col("cs") - F.col("rn") * F.col("tot"))
        )
    )
    pick = F.row_number().over(wt.orderBy(F.col("ns_abs").desc(), "rn"))
    return (
        cum.withColumn("pick", pick)
        .filter(F.col("pick") == 1)
        .select(
            "event_type",
            F.col("hr").alias("change_hr"),
            F.round(F.col("ns_abs").cast("double") / F.col("n_tot"), 6).alias(
                "cusum_peak"
            ),
            F.round(F.col("cs").cast("double") / F.col("rn"), 6).alias(
                "mean_before"
            ),
            F.round(
                (F.col("tot") - F.col("cs")).cast("double")
                / (F.col("n_tot") - F.col("rn")),
                6,
            ).alias("mean_after"),
        )
    )


# --------------------------------------------------------------------------
# Poisson bootstrap — distributed CI for the mean without coordination
# --------------------------------------------------------------------------
def _h(b: str) -> str:
    return (
        f"((CAST(event_id AS BIGINT) * {_HA} + CAST({b} AS BIGINT) * {_HB})"
        f" % 4294967296) % 1000"
    )


@query(
    "stats_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
      SELECT b, {_POIS.format(h=_h('b'))} AS w, value
      FROM events, range({_B}) t(b)
    ),
    means AS (
      SELECT b, sum(w * value) / sum(w) AS m
      FROM reps GROUP BY b HAVING sum(w) > 0
    ),
    fl AS (SELECT avg(value) AS mean_full FROM events)
    SELECT CAST({_B} AS INT) AS n_resamples,
           round((SELECT mean_full FROM fl), 6) AS mean_full,
           round(quantile_cont(m, 0.025), 6) AS ci_lo,
           round(quantile_cont(m, 0.975), 6) AS ci_hi,
           (SELECT mean_full FROM fl) BETWEEN quantile_cont(m, 0.025)
             AND quantile_cont(m, 0.975) AS covers_mean
    FROM means
    """,
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean event value via
    the POISSON bootstrap — the distributed-data formulation: instead
    of drawing one global multinomial resample (impossible without
    coordinating across executors), every row independently draws a
    Poisson(1)-distributed replication count per resample, which at
    scale is indistinguishable from the classic bootstrap. The B={_B}
    weights come from a deterministic LCG-style integer hash of
    (event_id, b) mapped through the Poisson(1) pmf — honest caveat:
    it is a demonstration-grade mixing function, not a cryptographic
    hash, but both engines replay it bit-for-bit. One fan-out to
    rows×B (map-side, no shuffle), one partial-agg on b, an exact
    percentile over B resample means. Cost scales as B scans — B is a
    constant, so the plan is cluster-size independent."""
    e = table(spark, sf_dir, "events")
    reps = e.crossJoin(
        F.broadcast(spark.range(_B).select(F.col("id").alias("b")))
    ).select(
        "b",
        F.expr(_POIS.format(h=_h("b"))).alias("w"),
        "value",
    )
    means = (
        reps.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("value")).alias("sw"),
            F.sum("w").alias("wt"),
        )
        .filter(F.col("wt") > 0)
        .select((F.col("sw") / F.col("wt")).alias("m"))
    )
    mean_full = e.agg(F.avg("value").alias("mf"))
    stats = means.agg(
        F.percentile("m", 0.025).alias("lo"),
        F.percentile("m", 0.975).alias("hi"),
    )
    return stats.crossJoin(mean_full).select(
        F.lit(_B).cast("int").alias("n_resamples"),
        F.round("mf", 6).alias("mean_full"),
        F.round("lo", 6).alias("ci_lo"),
        F.round("hi", 6).alias("ci_hi"),
        ((F.col("mf") >= F.col("lo")) & (F.col("mf") <= F.col("hi"))).alias(
            "covers_mean"
        ),
    )
