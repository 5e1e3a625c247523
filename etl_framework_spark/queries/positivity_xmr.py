"""Contract keys: ``stats_positivity_check``, ``ts_xmr_control_chart``,
``llm_novelty_saturation``.

Positivity check, XmR control chart, and the
novelty saturation curve.

Reference parity: the reference's causal-overlap diagnostic, its
Shewhart individuals chart, and its corpus-saturation curve —
re-expressed as binned overlap coefficients, moving-range limits,
and first-seen shingle rollups.

Scale notes:

- ``stats_positivity_check``: one binned conditional rollup; the
  overlap coefficient is Σ min(share_a, share_b).
- ``ts_xmr_control_chart``: one lag window for moving ranges; the
  limits are two scalars.
- ``llm_novelty_saturation``: first-seen shingle = min(doc_id) per
  shingle (one rollup); the curve is a decile rollup of novel
  counts.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# Positivity / common support: discount distributions by qty group
# --------------------------------------------------------------------------
@query(
    "stats_positivity_check",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(l_discount * 100) AS BIGINT) AS score_bin,
             CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS grp
      FROM lineitem
    ),
    g AS (
      SELECT score_bin,
             CAST(sum(grp) AS DOUBLE) AS n1,
             CAST(sum(1 - grp) AS DOUBLE) AS n0
      FROM b GROUP BY score_bin
    ),
    t AS (SELECT sum(n1) AS t1, sum(n0) AS t0 FROM g),
    s AS (
      SELECT g.score_bin, g.n1 / t.t1 AS s1, g.n0 / t.t0 AS s0
      FROM g CROSS JOIN t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(CASE WHEN s1 > 0 AND s0 > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS bins_with_overlap,
           floor(sum(least(s1, s0)) * 1000000 + 0.5) / 1000000
             AS overlap_coefficient,
           floor(max(CASE WHEN s0 > 0 THEN s1 / s0 END) * 10000 + 0.5)
             / 10000 AS max_density_ratio
    FROM s
    """,
)
def stats_positivity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positivity / common-support check before any causal
    adjustment: the discount ('propensity score' stand-in)
    distributions of big vs small-quantity lines, summarized as the
    overlap coefficient Σ min(ŝ₁, ŝ₀) and the worst density ratio.
    Overlap ≈ 1 = every score region has both groups (ANCOVA/IPW is
    estimating from data, not extrapolating); low overlap or a huge
    density ratio = the adjustment invents counterfactuals. One
    binned rollup; integer counts → exact shares. Ref: reference
    causal-hygiene tests (cf. stats_ancova_lite — this is its
    precondition; dq_drift_psi uses the same binned machinery)."""
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.floor(F.col("l_discount") * 100).cast("bigint").alias("score_bin"),
        F.when(F.col("l_quantity") > 25, 1).otherwise(0).alias("grp"),
    )
    g = b.groupBy("score_bin").agg(
        F.sum("grp").cast("double").alias("n1"),
        F.sum(1 - F.col("grp")).cast("double").alias("n0"),
    )
    t = g.agg(F.sum("n1").alias("t1"), F.sum("n0").alias("t0"))
    s = g.crossJoin(F.broadcast(t)).select(
        (F.col("n1") / F.col("t1")).alias("s1"),
        (F.col("n0") / F.col("t0")).alias("s0"),
    )
    return s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum(F.when((F.col("s1") > 0) & (F.col("s0") > 0), 1).otherwise(0))
        .cast("bigint")
        .alias("bins_with_overlap"),
        (
            F.floor(F.sum(F.least(F.col("s1"), F.col("s0"))) * 1000000.0 + 0.5)
            / 1000000.0
        ).alias("overlap_coefficient"),
        (
            F.floor(
                F.max(
                    F.when(F.col("s0") > 0, F.col("s1") / F.col("s0"))
                )
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("max_density_ratio"),
    )


# --------------------------------------------------------------------------
# XmR (individuals + moving range) control chart on daily demand
# --------------------------------------------------------------------------
@query(
    "ts_xmr_control_chart",
    oracle="""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(sum(l_quantity) AS DOUBLE) AS x
      FROM lineitem GROUP BY day
    ),
    mr AS (
      SELECT day, x,
             abs(x - lag(x) OVER (ORDER BY day)) AS r
      FROM daily
    ),
    lim AS (
      SELECT avg(x) AS xbar, avg(r) AS rbar FROM mr
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           floor(lim.xbar * 10000 + 0.5) / 10000 AS center_line,
           floor((lim.xbar + 2.66 * lim.rbar) * 10000 + 0.5) / 10000
             AS ucl,
           floor((lim.xbar - 2.66 * lim.rbar) * 10000 + 0.5) / 10000
             AS lcl,
           CAST(sum(CASE WHEN mr.x > lim.xbar + 2.66 * lim.rbar
                           OR mr.x < lim.xbar - 2.66 * lim.rbar
                         THEN 1 ELSE 0 END) AS BIGINT) AS out_of_control,
           CAST(sum(CASE WHEN mr.r > 3.267 * lim.rbar THEN 1 ELSE 0 END)
                AS BIGINT) AS mr_violations
    FROM mr CROSS JOIN lim GROUP BY lim.xbar, lim.rbar
    """,
)
def ts_xmr_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart XmR (individuals + moving-range) control chart on
    daily demand: limits x̄ ± 2.66·m̄R from the MOVING RANGE (the
    short-term noise estimate that stays honest when the series has
    level shifts — a global σ would absorb them), plus the mR chart's
    own 3.267·m̄R violations. The SPC chart that answers 'is this
    process stable enough to forecast at all' — the assumption
    behind every ±σ band the engine draws. One lag window + two
    scalar limits. Ref: reference SPC tests (cf. ts_cusum for
    drift accumulation, ts_bollinger for the adaptive-band cousin)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum("l_quantity").cast("double").alias("x")
    )
    mr = daily.select(
        "x", F.abs(F.col("x") - F.lag("x").over(W.orderBy("day"))).alias("r")
    )
    lim = mr.agg(F.avg("x").alias("xbar"), F.avg("r").alias("rbar"))
    j = mr.crossJoin(F.broadcast(lim))
    q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
    ucl = F.col("xbar") + 2.66 * F.col("rbar")
    lcl = F.col("xbar") - 2.66 * F.col("rbar")
    return j.groupBy("xbar", "rbar").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        q4(F.max("xbar")).alias("center_line"),
        q4(F.max(ucl)).alias("ucl"),
        q4(F.max(lcl)).alias("lcl"),
        F.sum(F.when((F.col("x") > ucl) | (F.col("x") < lcl), 1).otherwise(0))
        .cast("bigint")
        .alias("out_of_control"),
        F.sum(F.when(F.col("r") > 3.267 * F.col("rbar"), 1).otherwise(0))
        .cast("bigint")
        .alias("mr_violations"),
    ).drop("xbar", "rbar")


# --------------------------------------------------------------------------
# Novelty saturation: do later docs still add new content?
# --------------------------------------------------------------------------
@query(
    "llm_novelty_saturation",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS l
      FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS s
      FROM (SELECT doc_id, l,
                   unnest(generate_series(1, len(l) - 2)) AS i FROM t)
    ),
    firsts AS (
      SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s
    ),
    per_doc AS (
      SELECT sh.doc_id,
             CAST(count(*) AS DOUBLE) AS n_sh,
             CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) AS novel
      FROM sh JOIN firsts f ON sh.s = f.s
      GROUP BY sh.doc_id
    ),
    ranked AS (
      SELECT novel, n_sh,
             row_number() OVER (ORDER BY doc_id) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM per_doc
    )
    SELECT ((rk - 1) * 10) // n AS arrival_decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           floor(sum(novel) / sum(n_sh) * 1000000 + 0.5) / 1000000
             AS novel_shingle_share
    FROM ranked GROUP BY arrival_decile ORDER BY arrival_decile
    """,
)
def llm_novelty_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty saturation curve: documents in arrival (doc_id) order
    split into deciles; per decile, the share of each doc's 3-gram
    shingles seen for the FIRST time. A curve collapsing toward 0 =
    the crawl has saturated (each new doc re-treads old content —
    stop paying for ingestion); a flat high curve = the corpus is
    still growing in content, not just bytes. First-seen = one
    min(doc_id) rollup per shingle; the curve is a decile rollup.
    Integer counts → exact. Ref: reference saturation tests (cf.
    llm_novelty for the doc-level score, llm_heaps_law for the
    vocabulary version of the same question)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    t = docs.filter(F.size(toks) >= 3).select("doc_id", toks.alias("l"))
    idx = t.select(
        "doc_id", "l", F.explode(F.sequence(F.lit(1), F.size("l") - 2)).alias("i")
    )
    sh = idx.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.element_at("l", F.col("i")),
            F.element_at("l", F.col("i") + 1),
            F.element_at("l", F.col("i") + 2),
        ).alias("s"),
    ).distinct()
    firsts = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("double")
            .alias("novel"),
        )
    )
    ranked = per_doc.select(
        "novel",
        "n_sh",
        F.row_number().over(W.orderBy("doc_id")).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).cast("bigint").alias("n"),
    )
    return (
        ranked.groupBy(
            F.floor(((F.col("rk") - 1) * 10) / F.col("n"))
            .cast("bigint")
            .alias("arrival_decile")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (
                F.floor(
                    F.sum("novel") / F.sum("n_sh") * 1000000.0 + 0.5
                )
                / 1000000.0
            ).alias("novel_shingle_share"),
        )
        .orderBy("arrival_decile")
    )
