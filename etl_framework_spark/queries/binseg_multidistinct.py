"""Contract keys: ``ts_binary_segmentation``, ``agg_multi_distinct``,
``llm_length_quantiles_by_source``.

Binary-segmentation changepoints, one-pass
multi-distinct, and exact per-source length quantiles.

Reference parity: the reference's multi-changepoint detector, its
multi-distinct aggregation plan, and its exact grouped quantiles —
re-expressed as cumulative-sum argmax rounds, a single Expand-based
aggregate, and value-rollup midranks.

Scale notes:

- ``ts_binary_segmentation``: each round is an argmax over the
  |days| cumulative table — two rounds, no iteration over rows.
- ``agg_multi_distinct``: THREE count-distincts in one statement —
  Spark plans one Expand + aggregation instead of three scans.
- ``llm_length_quantiles_by_source``: quantiles come from the
  (source, length → count) rollup with cumulative counts — exact,
  no approximate percentile sketch.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked


# --------------------------------------------------------------------------
# Binary segmentation: best split, then best split of each half
# --------------------------------------------------------------------------
@query(
    "ts_binary_segmentation",
    oracle="""
    WITH daily AS (
      SELECT row_number() OVER (ORDER BY CAST(l_shipdate AS DATE)) AS t,
             CAST(sum(l_quantity) AS DOUBLE) AS x,
             CAST(l_shipdate AS DATE) AS day
      FROM lineitem GROUP BY CAST(l_shipdate AS DATE)
    ),
    c AS (
      SELECT t, day,
             sum(x) OVER (ORDER BY t) AS cs,
             CAST((SELECT count(*) FROM daily) AS DOUBLE) AS n,
             (SELECT sum(x) FROM daily) AS tot
      FROM daily
    ),
    gain AS (
      SELECT t, day,
             (cs - tot * t / n) * (cs - tot * t / n)
               * n / (t * (n - t)) AS g
      FROM c WHERE t < n
    ),
    s1 AS (
      SELECT t AS t1, day AS day1,
             floor(g * 10000 + 0.5) / 10000 AS g1
      FROM gain ORDER BY floor(g * 10000 + 0.5) DESC, t LIMIT 1
    ),
    gain_l AS (
      SELECT g.t, g.day,
             (c2.cs - c2.tot2 * g.t / s1g.t1)
               * (c2.cs - c2.tot2 * g.t / s1g.t1)
               * s1g.t1 / (g.t * (s1g.t1 - g.t)) AS g
      FROM (SELECT t, day FROM daily) g
      JOIN (SELECT t1 FROM s1) s1g ON g.t < s1g.t1
      JOIN (SELECT c.t, c.cs,
                   (SELECT cs FROM c c3
                    WHERE c3.t = (SELECT t1 FROM s1)) AS tot2
            FROM c) c2 ON c2.t = g.t
    ),
    s2 AS (
      SELECT t AS t2, day AS day2,
             floor(g * 10000 + 0.5) / 10000 AS g2
      FROM gain_l ORDER BY floor(g * 10000 + 0.5) DESC, t LIMIT 1
    )
    SELECT 1 AS round, s1.t1 AS split_t,
           CAST(s1.day1 AS TIMESTAMP) AS split_day, s1.g1 AS gain
    FROM s1
    UNION ALL
    SELECT 2, s2.t2, CAST(s2.day2 AS TIMESTAMP), s2.g2 FROM s2
    ORDER BY round
    """,
)
def ts_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoints of daily demand: round 1
    finds the split maximizing the scaled CUSUM gain
    (cs − tot·t/n)²·n/(t(n−t)) over the whole series; round 2
    re-runs the same objective INSIDE the left segment. The
    classic top-down multi-changepoint scheme, each round one
    argmax over the cumulative-sum table (quantized gain +
    position tiebreak → deterministic). Ref: reference
    changepoint tests (cf. ts_changepoint for the single-split
    form, ts_page_hinkley for the sequential detector)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum("l_quantity").cast("double").alias("x")
    )
    wd = W.orderBy("day")
    c = daily.select(
        F.row_number().over(wd).alias("t"),
        "day",
        F.sum("x").over(wd.rowsBetween(W.unboundedPreceding, 0)).alias("cs"),
    )
    tot = daily.agg(
        F.sum("x").alias("tot"), F.count(F.lit(1)).cast("double").alias("n")
    )
    cj = c.crossJoin(F.broadcast(tot))
    cj = cj.transform(persist_tracked)

    def best_split(df, n_col, tot_col):
        g = (
            (F.col("cs") - tot_col * F.col("t") / n_col)
            * (F.col("cs") - tot_col * F.col("t") / n_col)
            * n_col
            / (F.col("t") * (n_col - F.col("t")))
        )
        scored = df.filter(F.col("t") < n_col).select(
            "t",
            "day",
            (F.floor(g * 10000.0 + 0.5) / 10000.0).alias("gq"),
        )
        return scored.orderBy(F.desc("gq"), "t").limit(1)

    s1 = best_split(cj, F.col("n"), F.col("tot")).select(
        F.col("t").alias("t1"), F.col("day").alias("day1"), F.col("gq").alias("g1")
    )
    # left segment: positions < t1, total = cs at t1
    cs_at_t1 = (
        cj.join(F.broadcast(s1), cj.t == s1.t1)
        .select(F.col("cs").alias("tot2"), F.col("t1").alias("n2"))
    )
    left = cj.crossJoin(F.broadcast(cs_at_t1)).filter(F.col("t") < F.col("n2"))
    s2 = best_split(
        left, F.col("n2").cast("double"), F.col("tot2")
    ).select(
        F.col("t").alias("t2"), F.col("day").alias("day2"), F.col("gq").alias("g2")
    )
    r1 = s1.select(
        F.lit(1).alias("round"),
        F.col("t1").cast("bigint").alias("split_t"),
        F.col("day1").cast("timestamp").alias("split_day"),
        F.col("g1").alias("gain"),
    )
    r2 = s2.select(
        F.lit(2).alias("round"),
        F.col("t2").cast("bigint").alias("split_t"),
        F.col("day2").cast("timestamp").alias("split_day"),
        F.col("g2").alias("gain"),
    )
    return r1.unionAll(r2).orderBy("round")


# --------------------------------------------------------------------------
# One-pass multi-distinct aggregation
# --------------------------------------------------------------------------
@query(
    "agg_multi_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS d_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS d_supps,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS d_orders,
           CAST(count(DISTINCT CAST(l_shipdate AS DATE)) AS BIGINT)
             AS d_days
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOUR count-distincts over different columns in one grouped
    statement — the KPI-dashboard shape.

    r11 optimization (guide §2.3, shuffle fewer bytes — same finding
    as profile_lineitem): the single multi-distinct statement compiles
    to the Expand-based plan, which replicates EVERY input row once
    per distinct column (5x here) and shuffles the expanded frame.
    Decomposed per-column rollups — groupBy(flag, col) partial-agg
    then count per flag — shuffle only (flag, value) pairs bounded by
    each column's cardinality, and the scan cost does NOT multiply:
    parquet is columnar, so each rollup reads just its own 2 columns
    and the five pruned scans together read ~the bytes of the one
    full-width scan. Measured 1.35 s -> 0.89 s at sf0.1,
    value-identical (sorted collects equal). The joins at the end are
    3-row-per-side — broadcast, free. Ref: reference multi-distinct
    tests (cf. agg_count_distinct for the single-column form,
    agg_bitmap_distinct for the re-aggregatable one)."""
    li = table(spark, sf_dir, "lineitem")
    n = li.groupBy(F.col("l_returnflag").alias("f")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    parts = []
    for col, alias in [
        ("l_partkey", "d_parts"),
        ("l_suppkey", "d_supps"),
        ("l_orderkey", "d_orders"),
    ]:
        parts.append(
            li.groupBy(
                F.col("l_returnflag").alias("f"), F.col(col).alias("v")
            )
            .agg(F.lit(1))
            .groupBy("f")
            # ADVICE r11: count the value column, not lit(1) — the
            # NULL-valued group must not count (COUNT(DISTINCT col)
            # skips NULLs). Inert on TPC-H NOT NULL columns.
            .agg(F.count("v").cast("bigint").alias(alias))
        )
    parts.append(
        li.groupBy(
            F.col("l_returnflag").alias("f"),
            F.col("l_shipdate").cast("date").alias("v"),
        )
        .agg(F.lit(1))
        .groupBy("f")
        .agg(F.count("v").cast("bigint").alias("d_days"))
    )
    out = n
    for p in parts:
        out = out.join(p, "f")
    return out.select(
        F.col("f").alias("l_returnflag"),
        "n",
        "d_parts",
        "d_supps",
        "d_orders",
        "d_days",
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# Exact per-source token-length quantiles via value rollup
# --------------------------------------------------------------------------
@query(
    "llm_length_quantiles_by_source",
    oracle="""
    WITH d AS (
      SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    v AS (
      SELECT source, n, CAST(count(*) AS BIGINT) AS c
      FROM d GROUP BY source, n
    ),
    cum AS (
      SELECT source, n, c,
             sum(c) OVER (PARTITION BY source ORDER BY n) AS cumc,
             sum(c) OVER (PARTITION BY source) AS tot
      FROM v
    )
    SELECT source,
           CAST(max(tot) AS BIGINT) AS n_docs,
           CAST(min(CASE WHEN cumc * 2 >= tot THEN n END) AS BIGINT)
             AS p50_len,
           CAST(min(CASE WHEN cumc * 10 >= tot * 9 THEN n END) AS BIGINT)
             AS p90_len,
           CAST(min(n) AS BIGINT) AS min_len,
           CAST(max(n) AS BIGINT) AS max_len
    FROM cum GROUP BY source ORDER BY source
    """,
)
def llm_length_quantiles_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT per-source token-length quantiles (p50/p90, plus
    min/max) computed from the (source, length → count) rollup with
    cumulative counts — the lower-quantile-at-threshold definition
    (smallest length whose cumulative count reaches the target), so
    both engines agree bit-for-bit with NO approximate percentile
    sketch. The per-source shape table behind sequence-length
    budgeting. At 100 TB the rollup is |sources × distinct lengths|,
    not |docs|. Ref: reference grouped-quantile tests (cf.
    agg_quantile_approx for the sketch path, llm_length_hist for
    the full histogram)."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n"),
    )
    v = d.groupBy("source", "n").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ws = W.partitionBy("source").orderBy("n")
    cum = v.select(
        "source",
        "n",
        "c",
        F.sum("c").over(ws).alias("cumc"),
        F.sum("c").over(W.partitionBy("source")).alias("tot"),
    )
    return (
        cum.groupBy("source")
        .agg(
            F.max("tot").cast("bigint").alias("n_docs"),
            F.min(F.when(F.col("cumc") * 2 >= F.col("tot"), F.col("n")))
            .cast("bigint")
            .alias("p50_len"),
            F.min(F.when(F.col("cumc") * 10 >= F.col("tot") * 9, F.col("n")))
            .cast("bigint")
            .alias("p90_len"),
            F.min("n").cast("bigint").alias("min_len"),
            F.max("n").cast("bigint").alias("max_len"),
        )
        .orderBy("source")
    )
