"""Contract keys: ``stats_ttest_welch``, ``stats_anova``,
``stats_cramers_v``, ``stats_levene``, ``set_except_distinct``.

The classical hypothesis-testing family rounded
out — Welch's t, one-way ANOVA, Cramér's V, Brown-Forsythe — plus the
EXCEPT DISTINCT set op.

Scale notes (all four tests are closed forms over one partial-agg
shuffle; no test materializes more than |groups| rows after it):

- ``stats_ttest_welch``: conditional aggregation (``avg/var_samp`` of
  a CASE expression) computes both arms in ONE pass over events — no
  self-join, no second scan.
- ``stats_anova``: integer-exact sufficient statistics (n, Σx, Σx²
  over BIGINT ``n_chars``) — partition-order independent by
  construction; the F statistic is scalar math on a |source|×|lang|
  rollup.
- ``stats_cramers_v``: χ² via the identity χ² = n·(Σ o²/(r·c) − 1)
  over contingency cells — margins join back to cells, never to raw
  rows.
- ``stats_levene``: per-group exact medians (one order-statistic agg),
  then a second pass folds |x − med| into ANOVA sums; the join that
  tags each row with its group median broadcasts (|groups| rows).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_Z95 = 1.959963984540054  # two-sided normal 95% critical value


# --------------------------------------------------------------------------
# Welch's t — weekend vs weekday event values, per event type
# --------------------------------------------------------------------------
@query(
    "stats_ttest_welch",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             CAST(count(*) FILTER (dayofweek(ts) IN (0, 6)) AS DOUBLE) AS n1,
             avg(value)      FILTER (dayofweek(ts) IN (0, 6)) AS m1,
             var_samp(value) FILTER (dayofweek(ts) IN (0, 6)) AS v1,
             CAST(count(*) FILTER (dayofweek(ts) NOT IN (0, 6)) AS DOUBLE) AS n2,
             avg(value)      FILTER (dayofweek(ts) NOT IN (0, 6)) AS m2,
             var_samp(value) FILTER (dayofweek(ts) NOT IN (0, 6)) AS v2
      FROM events GROUP BY event_type
    ),
    w AS (SELECT *, v1 / n1 + v2 / n2 AS se2 FROM s WHERE n1 >= 2 AND n2 >= 2)
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_weekend,
           CAST(n2 AS BIGINT) AS n_weekday,
           round(m1 - m2, 6) AS mean_diff,
           round((m1 - m2) / sqrt(se2), 6) AS t_stat,
           round(se2 * se2 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                              + (v2 / n2) * (v2 / n2) / (n2 - 1)), 4)
             AS welch_df,
           abs((m1 - m2) / sqrt(se2)) > {_Z95} AS significant
    FROM w
    """,
)
def stats_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of event value, weekend vs
    weekday, per event type — the default two-sample mean test when
    nobody has verified equal variances. Both arms come out of ONE
    conditional-aggregation pass (``avg``/``var_samp`` of a CASE
    expression ignores the other arm's NULLs), so the cost is a single
    partial-agg shuffle regardless of arm sizes; the t statistic and
    Welch-Satterthwaite df are scalar closed forms on the |types|-row
    rollup. Spark dayofweek is 1=Sunday..7=Saturday; DuckDB's is
    0-based — weekend = {{1,7}} there, {{0,6}} here. The df is large
    (thousands), so the normal 95% critical value is the honest
    significance gate."""
    e = table(spark, sf_dir, "events")
    wkend = F.dayofweek("ts").isin(1, 7)
    v_we = F.when(wkend, F.col("value"))
    v_wd = F.when(~wkend, F.col("value"))
    s = (
        e.groupBy("event_type")
        .agg(
            F.count(v_we).cast("double").alias("n1"),
            F.avg(v_we).alias("m1"),
            F.var_samp(v_we).alias("v1"),
            F.count(v_wd).cast("double").alias("n2"),
            F.avg(v_wd).alias("m2"),
            F.var_samp(v_wd).alias("v2"),
        )
        .filter((F.col("n1") >= 2) & (F.col("n2") >= 2))
        .withColumn("se2", F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2"))
    )
    t = (F.col("m1") - F.col("m2")) / F.sqrt(F.col("se2"))
    df_num = F.col("se2") * F.col("se2")
    df_den = (
        (F.col("v1") / F.col("n1")) * (F.col("v1") / F.col("n1")) / (F.col("n1") - 1)
        + (F.col("v2") / F.col("n2")) * (F.col("v2") / F.col("n2")) / (F.col("n2") - 1)
    )
    return s.select(
        "event_type",
        F.col("n1").cast("bigint").alias("n_weekend"),
        F.col("n2").cast("bigint").alias("n_weekday"),
        F.round(F.col("m1") - F.col("m2"), 6).alias("mean_diff"),
        F.round(t, 6).alias("t_stat"),
        F.round(df_num / df_den, 4).alias("welch_df"),
        (F.abs(t) > _Z95).alias("significant"),
    )


# --------------------------------------------------------------------------
# One-way ANOVA — document length across languages, per source
# --------------------------------------------------------------------------
@query(
    "stats_anova",
    oracle="""
    WITH g AS (
      SELECT source, lang, count(*) AS n,
             sum(n_chars) AS s, sum(n_chars * n_chars) AS ss
      FROM documents GROUP BY source, lang
    ),
    per AS (
      SELECT source,
             CAST(count(*) AS DOUBLE) AS k,
             CAST(sum(n) AS DOUBLE) AS n_tot,
             CAST(sum(s) AS DOUBLE) AS s_tot,
             CAST(sum(ss) AS DOUBLE) AS ss_tot,
             sum(CAST(s AS DOUBLE) * s / n) AS grp_sq
      FROM g GROUP BY source
      HAVING count(*) >= 2 AND sum(n) > count(*)
    )
    SELECT source,
           CAST(k AS INT) AS k_groups,
           CAST(n_tot AS BIGINT) AS n_docs,
           round(grp_sq - s_tot * s_tot / n_tot, 6) AS ss_between,
           round(ss_tot - grp_sq, 6) AS ss_within,
           round(((grp_sq - s_tot * s_tot / n_tot) / (k - 1))
                 / ((ss_tot - grp_sq) / (n_tot - k)), 6) AS f_stat,
           round((grp_sq - s_tot * s_tot / n_tot)
                 / (ss_tot - s_tot * s_tot / n_tot), 6) AS eta_sq
    FROM per
    """,
)
def stats_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of document length (n_chars) across languages,
    per source: does language explain length variance within a corpus
    slice? The sufficient statistics (n, Σx, Σx²) are BIGINT sums of
    integers, so they are bit-exact and partition-order independent —
    the F statistic and effect size η² are pure scalar math on the
    |source|×|lang| rollup (two tiny partial-agg shuffles total, no
    row ever leaves the executors twice). The between/within sums use
    the computational identity SSB = Σ s_g²/n_g − s²/N, SSW = Σx² −
    Σ s_g²/n_g."""
    d = table(spark, sf_dir, "documents")
    g = d.groupBy("source", "lang").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("ss"),
    )
    per = (
        g.groupBy("source")
        .agg(
            F.count("*").cast("double").alias("k"),
            F.sum("n").cast("double").alias("n_tot"),
            F.sum("s").cast("double").alias("s_tot"),
            F.sum("ss").cast("double").alias("ss_tot"),
            F.sum(F.col("s").cast("double") * F.col("s") / F.col("n")).alias(
                "grp_sq"
            ),
        )
        .filter((F.col("k") >= 2) & (F.col("n_tot") > F.col("k")))
    )
    ssb = F.col("grp_sq") - F.col("s_tot") * F.col("s_tot") / F.col("n_tot")
    ssw = F.col("ss_tot") - F.col("grp_sq")
    sst = F.col("ss_tot") - F.col("s_tot") * F.col("s_tot") / F.col("n_tot")
    return per.select(
        "source",
        F.col("k").cast("int").alias("k_groups"),
        F.col("n_tot").cast("bigint").alias("n_docs"),
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        F.round((ssb / (F.col("k") - 1)) / (ssw / (F.col("n_tot") - F.col("k"))), 6)
        .alias("f_stat"),
        F.round(ssb / sst, 6).alias("eta_sq"),
    )


# --------------------------------------------------------------------------
# Cramér's V — categorical association strength, two column pairs
# --------------------------------------------------------------------------
def _duck_cramers(rel: str, tbl: str, a: str, b: str) -> str:
    return f"""
    SELECT '{rel}' AS rel, CAST(n AS BIGINT) AS n,
           CAST(r AS INT) AS r_levels, CAST(c AS INT) AS c_levels,
           round(chi2, 6) AS chi2,
           CAST((r - 1) * (c - 1) AS INT) AS dof,
           round(sqrt(chi2 / (n * least(r - 1, c - 1))), 6) AS cramers_v
    FROM (
      SELECT CAST(sum(o) AS DOUBLE) AS n,
             CAST(count(DISTINCT a) AS DOUBLE) AS r,
             CAST(count(DISTINCT b) AS DOUBLE) AS c,
             CAST(sum(o) AS DOUBLE)
               * (sum(CAST(o AS DOUBLE) * o / (rt * ct)) - 1) AS chi2
      FROM (
        SELECT a, b, o,
               sum(o) OVER (PARTITION BY a) AS rt,
               sum(o) OVER (PARTITION BY b) AS ct
        FROM (SELECT {a} AS a, {b} AS b, CAST(count(*) AS DOUBLE) AS o
              FROM {tbl} GROUP BY 1, 2)
      )
    )
    """


def _spark_cramers(df: DataFrame, rel: str, a: str, b: str) -> DataFrame:
    from pyspark.sql import Window as W

    cells = (
        df.groupBy(F.col(a).alias("a"), F.col(b).alias("b"))
        .agg(F.count("*").cast("double").alias("o"))
        .withColumn("rt", F.sum("o").over(W.partitionBy("a")))
        .withColumn("ct", F.sum("o").over(W.partitionBy("b")))
    )
    s = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("a").cast("double").alias("r"),
        F.countDistinct("b").cast("double").alias("c"),
        (
            F.sum("o")
            * (F.sum(F.col("o") * F.col("o") / (F.col("rt") * F.col("ct"))) - 1)
        ).alias("chi2"),
    )
    return s.select(
        F.lit(rel).alias("rel"),
        F.col("n").cast("bigint").alias("n"),
        F.col("r").cast("int").alias("r_levels"),
        F.col("c").cast("int").alias("c_levels"),
        F.round("chi2", 6).alias("chi2"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("int").alias("dof"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))),
            6,
        ).alias("cramers_v"),
    )


@query(
    "stats_cramers_v",
    oracle=_duck_cramers("orders_priority_x_status", "orders", "o_orderpriority", "o_orderstatus")
    + " UNION ALL "
    + _duck_cramers("docs_lang_x_source", "documents", "lang", "source"),
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength between two categorical
    columns, for two column pairs (order priority × status, document
    lang × source) — the screen for 'are these dimensions independent
    or is one leaking into the other' before stratifying on either.
    χ² comes from the margin identity χ² = n·(Σ o²/(r_t·c_t) − 1):
    cells are a tiny groupBy rollup, margins are window sums OVER the
    cells (never over raw rows), so the whole contingency analysis is
    one partial-agg shuffle per pair plus scalar math on ≤ |r|·|c|
    rows. A/A expectation on this synthetic data: both pairs are
    independently generated, so V should sit near 0 — which the
    matching oracle certifies rather than assumes."""
    o = table(spark, sf_dir, "orders")
    d = table(spark, sf_dir, "documents")
    return _spark_cramers(
        o, "orders_priority_x_status", "o_orderpriority", "o_orderstatus"
    ).unionAll(_spark_cramers(d, "docs_lang_x_source", "lang", "source"))


# --------------------------------------------------------------------------
# Brown-Forsythe (median-centered Levene) — variance homogeneity
# --------------------------------------------------------------------------
@query(
    "stats_levene",
    oracle="""
    WITH med AS (SELECT event_type, median(value) AS med
                 FROM events GROUP BY event_type),
    z AS (SELECT e.event_type, abs(e.value - m.med) AS z
          FROM events e JOIN med m USING (event_type)),
    g AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
                 sum(z) AS sz, sum(z * z) AS szz
          FROM z GROUP BY event_type),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS k, sum(n) AS n_tot,
                   sum(sz) AS sz_tot,
                   sum(sz * sz / n) AS grp_sq,
                   sum(szz) AS szz_tot
            FROM g)
    SELECT CAST(k AS INT) AS k_groups,
           CAST(n_tot AS BIGINT) AS n_events,
           round((grp_sq - sz_tot * sz_tot / n_tot) / (k - 1), 6)
             AS ms_between,
           round((szz_tot - grp_sq) / (n_tot - k), 6) AS ms_within,
           round(((grp_sq - sz_tot * sz_tot / n_tot) / (k - 1))
                 / ((szz_tot - grp_sq) / (n_tot - k)), 6) AS w_stat
    FROM tot
    """,
)
def stats_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (median-centered Levene) for equality of
    variances of event value across event types — the gate that
    decides whether pooled-variance methods (classic t, classic
    ANOVA) are even admissible, robust to non-normality because it
    centers on the MEDIAN. Plan: one exact order-statistic agg for
    per-type medians (|types| rows, broadcast back), one pass folding
    |x − med| into ANOVA sufficient statistics, then scalar math —
    two scans, one broadcast join, one partial-agg shuffle; nothing
    driver-side. The W statistic is exactly the one-way ANOVA F
    computed on the absolute deviations."""
    e = table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    z = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    tot = g.agg(
        F.count("*").cast("double").alias("k"),
        F.sum("n").alias("n_tot"),
        F.sum("sz").alias("sz_tot"),
        F.sum(F.col("sz") * F.col("sz") / F.col("n")).alias("grp_sq"),
        F.sum("szz").alias("szz_tot"),
    )
    ssb = F.col("grp_sq") - F.col("sz_tot") * F.col("sz_tot") / F.col("n_tot")
    ssw = F.col("szz_tot") - F.col("grp_sq")
    msb = ssb / (F.col("k") - 1)
    msw = ssw / (F.col("n_tot") - F.col("k"))
    return tot.select(
        F.col("k").cast("int").alias("k_groups"),
        F.col("n_tot").cast("bigint").alias("n_events"),
        F.round(msb, 6).alias("ms_between"),
        F.round(msw, 6).alias("ms_within"),
        F.round(msb / msw, 6).alias("w_stat"),
    )


# --------------------------------------------------------------------------
# EXCEPT DISTINCT — the set-semantics difference (set_except is bag)
# --------------------------------------------------------------------------
@query(
    "set_except_distinct",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_except_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference with DISTINCT semantics (ANSI EXCEPT) —
    completes the set-op family next to set_except's EXCEPT ALL:
    customers with a finished order but no open one, each key once.
    Spark's ``subtract`` is exactly EXCEPT DISTINCT (a left-anti
    against the distinct right side under the hood — both sides
    shuffle on the full row as key, so it co-partitions like any
    equi-join at scale)."""
    o = table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.subtract(op)
