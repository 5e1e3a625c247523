"""Contract keys: ``llm_lang_label_conflicts``, ``stats_ancova_lite``,
``stats_cochran_armitage``.

Language-label conflicts, one-covariate
ANCOVA, Cochran-Armitage trend test.

Reference parity: the reference's label-consistency audit,
covariate-adjusted group comparison, and ordered-proportion trend
test — re-expressed as a text-hash rollup and two moment closed
forms.

Scale notes:

- ``llm_lang_label_conflicts``: texts group by md5 — the conflict
  scan is |distinct texts| after one hash rollup.
- ``stats_ancova_lite``: pooled within-group slope and adjusted
  means come from per-group moments — one scan, k rows.
- ``stats_cochran_armitage``: quantity quintiles are fixed integer
  cut points; the trend z is a closed form over 5 cells.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6


# --------------------------------------------------------------------------
# Language-label conflicts: identical text, different lang tags
# --------------------------------------------------------------------------
@query(
    "llm_lang_label_conflicts",
    oracle="""
    WITH h AS (
      SELECT md5(text) AS th,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      FROM documents GROUP BY th
    )
    SELECT CAST(count(*) AS BIGINT) AS n_distinct_texts,
           CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_duped_texts,
           CAST(sum(CASE WHEN n_langs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lang_conflicts,
           CAST(sum(CASE WHEN n_sources >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cross_source,
           CAST(sum(CASE WHEN n_langs >= 2 THEN n_docs ELSE 0 END)
                AS BIGINT) AS docs_in_conflict,
           round(CAST(sum(CASE WHEN n_langs >= 2 THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / greatest(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END), 1),
                 6) AS conflict_share_of_dups
    FROM h
    """,
)
def llm_lang_label_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-consistency audit: identical texts (by md5) carrying
    DIFFERENT language tags — the metadata contradiction that
    poisons language-filtered training mixes (the same bytes can't
    be both 'en' and 'de'; one pipeline is lying). Reported next to
    plain duplicate counts and cross-source duplicates so the
    conflict rate among dups is readable directly. One hash rollup;
    integer counts → exact. Ref: reference metadata-audit tests
    (cf. llm_cross_source_dups for the provenance view,
    llm_lang_id for re-derivation)."""
    docs = table(spark, sf_dir, "documents")
    h = docs.groupBy(F.md5(F.col("text")).alias("th")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
    )
    return h.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_texts"),
        F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_duped_texts"),
        F.sum(F.when(F.col("n_langs") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_lang_conflicts"),
        F.sum(F.when(F.col("n_sources") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_cross_source"),
        F.sum(F.when(F.col("n_langs") >= 2, F.col("n_docs")).otherwise(0))
        .cast("bigint")
        .alias("docs_in_conflict"),
        F.round(
            F.sum(F.when(F.col("n_langs") >= 2, 1).otherwise(0)).cast("double")
            / F.greatest(
                F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)), F.lit(1)
            ),
            6,
        ).alias("conflict_share_of_dups"),
    )


# --------------------------------------------------------------------------
# One-covariate ANCOVA: flag means adjusted for discount
# --------------------------------------------------------------------------
@query(
    "stats_ancova_lite",
    oracle="""
    WITH g AS (
      SELECT l_returnflag AS flag,
             CAST(count(*) AS DOUBLE) AS n,
             sum(l_discount) AS sx,
             sum(CAST(l_quantity AS DOUBLE)) AS sy,
             sum(l_discount * l_discount) AS sxx,
             sum(l_discount * CAST(l_quantity AS DOUBLE)) AS sxy
      FROM lineitem GROUP BY flag
    ),
    pooled AS (
      SELECT sum(sxy - sx * sy / n) / sum(sxx - sx * sx / n) AS bw,
             sum(sx) / sum(n) AS gx
      FROM g
    )
    SELECT g.flag,
           CAST(g.n AS BIGINT) AS n,
           floor(g.sy / g.n * 1000000 + 0.5) / 1000000 AS raw_mean,
           floor(g.sx / g.n * 1000000 + 0.5) / 1000000 AS mean_discount,
           floor((g.sy / g.n - pooled.bw * (g.sx / g.n - pooled.gx))
                 * 1000000 + 0.5) / 1000000 AS adjusted_mean,
           floor(pooled.bw * 1000000 + 0.5) / 1000000 AS pooled_slope
    FROM g CROSS JOIN pooled ORDER BY g.flag
    """,
)
def stats_ancova_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-covariate ANCOVA: per-flag quantity means ADJUSTED to a
    common discount level — m_g − b_w(x̄_g − x̄) with the pooled
    within-group slope b_w = ΣSxy_g/ΣSxx_g. The comparison that
    survives 'group A just gets bigger discounts': if adjustment
    moves a group's mean, the raw gap was (partly) the covariate
    talking. Per-group moments in one scan, k-row arithmetic after;
    grid-quantized for the double-valued covariate sums. Ref:
    reference adjusted-comparison tests (cf. stats_cuped — same
    algebra, experiment framing; stats_diff_in_diff)."""
    li = table(spark, sf_dir, "lineitem")
    x, y = F.col("l_discount"), F.col("l_quantity").cast("double")
    g = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    pooled = g.agg(
        (
            F.sum(F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / F.sum(F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        ).alias("bw"),
        (F.sum("sx") / F.sum("n")).alias("gx"),
    )
    j = g.crossJoin(F.broadcast(pooled))
    return j.select(
        "flag",
        F.col("n").cast("bigint").alias("n"),
        q6(F.col("sy") / F.col("n")).alias("raw_mean"),
        q6(F.col("sx") / F.col("n")).alias("mean_discount"),
        q6(
            F.col("sy") / F.col("n")
            - F.col("bw") * (F.col("sx") / F.col("n") - F.col("gx"))
        ).alias("adjusted_mean"),
        q6(F.col("bw")).alias("pooled_slope"),
    ).orderBy("flag")


# --------------------------------------------------------------------------
# Cochran-Armitage: does return rate trend across quantity bands?
# --------------------------------------------------------------------------
@query(
    "stats_cochran_armitage",
    oracle="""
    WITH b AS (
      SELECT CAST(floor((l_quantity - 1) / 10) AS BIGINT) AS band,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
      FROM lineitem
    ),
    g AS (
      SELECT band, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(bad) AS DOUBLE) AS r
      FROM b GROUP BY band
    ),
    t AS (
      SELECT sum(n) AS nn, sum(r) AS rr,
             sum(CAST(band AS DOUBLE) * n) AS sn,
             sum(CAST(band AS DOUBLE) * r) AS sr,
             sum(CAST(band AS DOUBLE) * CAST(band AS DOUBLE) * n) AS snn
      FROM g
    )
    SELECT CAST(nn AS BIGINT) AS n,
           round(rr / nn, 6) AS overall_rate,
           round(sr - rr * sn / nn, 6) AS trend_numerator,
           round((sr - rr * sn / nn)
                 / sqrt(rr / nn * (1 - rr / nn)
                        * (snn - sn * sn / nn)), 6) AS ca_z
    FROM t
    """,
)
def stats_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does the RETURN rate trend
    monotonically across the five quantity bands (1-10 … 41-50)?
    z = Σs_i(r_i − p̄n_i)/√(p̄q̄·Σn_i(s_i−s̄)²) with integer band
    scores — the ordered-alternative test with far more power than
    the omnibus χ² when the suspicion is 'bigger orders get
    returned MORE'. One banded rollup, closed form over 5 cells,
    integer-exact. Ref: reference ordered-categorical tests (cf.
    stats_chisq for the unordered omnibus, stats_mannkendall for
    the time-ordered cousin)."""
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.floor((F.col("l_quantity") - 1) / 10).cast("bigint").alias("band"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("bad"),
    )
    g = b.groupBy("band").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("bad").cast("double").alias("r"),
    )
    s = F.col("band").cast("double")
    t = g.agg(
        F.sum("n").alias("nn"),
        F.sum("r").alias("rr"),
        F.sum(s * F.col("n")).alias("sn"),
        F.sum(s * F.col("r")).alias("sr"),
        F.sum(s * s * F.col("n")).alias("snn"),
    )
    p = F.col("rr") / F.col("nn")
    num = F.col("sr") - F.col("rr") * F.col("sn") / F.col("nn")
    return t.select(
        F.col("nn").cast("bigint").alias("n"),
        F.round(p, 6).alias("overall_rate"),
        F.round(num, 6).alias("trend_numerator"),
        F.round(
            num
            / F.sqrt(
                p * (1 - p) * (F.col("snn") - F.col("sn") * F.col("sn") / F.col("nn"))
            ),
            6,
        ).alias("ca_z"),
    )
