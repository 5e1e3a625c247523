"""Contract keys: ``train_mix_cap_waterfill``, ``dq_numeric_precision``,
``llm_blocking_efficiency``.

Water-filling mix caps, numeric precision
audit, and dedup blocking efficiency.

Reference parity: the reference's training-mix designer under
per-source caps, its numeric-integrity rules, and its dedup
cost model — re-expressed as a sorted-cumulative fixed point,
conditional counts, and per-strategy C(n,2) rollups.

Scale notes:

- ``train_mix_cap_waterfill``: the fixed point 'which sources bind
  the cap' falls out of ONE pass over sources sorted descending —
  no iteration; k sources is tiny.
- ``dq_numeric_precision``: one conditional-count scan.
- ``llm_blocking_efficiency``: each strategy is a bucket rollup +
  Σ n(n−1)/2 — the whole cost model never materializes a pair.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_CAP = 0.15  # max share of the selected mix any source may hold


# --------------------------------------------------------------------------
# Water-filling: max tokens selectable under a 15% per-source cap
# --------------------------------------------------------------------------
@query(
    "train_mix_cap_waterfill",
    oracle=f"""
    WITH src AS (
      SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS toks
      FROM documents GROUP BY source
    ),
    r AS (
      SELECT source, toks,
             row_number() OVER (ORDER BY toks DESC, source) AS rk,
             sum(toks) OVER (ORDER BY toks DESC, source
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_top
      FROM src
    ),
    tot AS (SELECT sum(toks) AS t, CAST(count(*) AS BIGINT) AS k FROM src),
    cand AS (
      SELECT r.rk AS n_capped,
             (tot.t - r.cum_top) / (1.0 - r.rk * {_CAP}) AS t_sel,
             r.toks AS kth_toks,
             lead(r.toks) OVER (ORDER BY r.rk) AS next_toks
      FROM r CROSS JOIN tot
      WHERE r.rk * {_CAP} < 1.0
    ),
    valid AS (
      SELECT n_capped, t_sel FROM cand
      WHERE {_CAP} * t_sel <= kth_toks
        AND (next_toks IS NULL OR {_CAP} * t_sel >= next_toks)
    ),
    best AS (SELECT n_capped, t_sel FROM valid
             ORDER BY t_sel DESC LIMIT 1),
    zero AS (
      SELECT CAST(0 AS BIGINT) AS n_capped, tot.t AS t_sel FROM tot
      WHERE NOT EXISTS (SELECT 1 FROM src
                        WHERE toks > {_CAP} * tot.t)
    ),
    pick AS (
      SELECT * FROM zero
      UNION ALL
      SELECT CAST(n_capped AS BIGINT), t_sel FROM best
      WHERE NOT EXISTS (SELECT 1 FROM zero)
    )
    SELECT CAST(tot.k AS BIGINT) AS n_sources,
           CAST(tot.t AS BIGINT) AS total_tokens,
           pick.n_capped AS n_capped_sources,
           CAST(floor(pick.t_sel + 0.5) AS BIGINT) AS selectable_tokens,
           round(pick.t_sel / tot.t, 6) AS retention,
           CAST(floor({_CAP} * pick.t_sel + 0.5) AS BIGINT)
             AS per_source_token_cap
    FROM pick CROSS JOIN tot
    """,
)
def train_mix_cap_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling under a per-source cap: the maximum training
    mix T such that every source contributes ≤ 15% of T — capped
    sources give exactly 0.15·T, the rest give everything, and
    T = Σ_uncapped/(1 − k·0.15) for the binding set k. The fixed
    point falls out of ONE descending pass (the binding set is
    always a prefix of the sorted sources; validity is two
    inequalities per candidate). THE dominant-source dilution rule
    every curated mix applies before sampling. Integer token sums →
    exact. Ref: reference mix-design tests (cf. train_budget_select
    for the quality-knapsack, mix_weights for free-form weights)."""
    docs = table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("double").alias("toks")
    )
    wr = W.orderBy(F.desc("toks"), "source")
    r = src.select(
        "source",
        "toks",
        F.row_number().over(wr).alias("rk"),
        F.sum("toks").over(wr.rowsBetween(W.unboundedPreceding, 0)).alias(
            "cum_top"
        ),
    )
    tot = src.agg(
        F.sum("toks").alias("t"), F.count(F.lit(1)).cast("bigint").alias("k")
    )
    cand = (
        r.crossJoin(F.broadcast(tot))
        .filter(F.col("rk") * _CAP < 1.0)
        .select(
            F.col("rk").alias("n_capped"),
            ((F.col("t") - F.col("cum_top")) / (1.0 - F.col("rk") * _CAP)).alias(
                "t_sel"
            ),
            F.col("toks").alias("kth_toks"),
            F.lead("toks").over(W.orderBy("rk")).alias("next_toks"),
        )
    )
    valid = cand.filter(
        (F.lit(_CAP) * F.col("t_sel") <= F.col("kth_toks"))
        & (
            F.col("next_toks").isNull()
            | (F.lit(_CAP) * F.col("t_sel") >= F.col("next_toks"))
        )
    )
    best = valid.orderBy(F.desc("t_sel")).limit(1).select(
        F.col("n_capped").cast("bigint").alias("n_capped"), "t_sel"
    )
    # zero-capped case: no source exceeds cap * total
    zero_ok = src.crossJoin(F.broadcast(tot)).filter(
        F.col("toks") > _CAP * F.col("t")
    )
    n_over = zero_ok.count()
    if n_over == 0:
        pick = tot.select(
            F.lit(0).cast("bigint").alias("n_capped"), F.col("t").alias("t_sel")
        )
    else:
        pick = best
    out = pick.crossJoin(F.broadcast(tot))
    return out.select(
        F.col("k").alias("n_sources"),
        F.col("t").cast("bigint").alias("total_tokens"),
        F.col("n_capped").alias("n_capped_sources"),
        F.floor(F.col("t_sel") + 0.5).cast("bigint").alias("selectable_tokens"),
        F.round(F.col("t_sel") / F.col("t"), 6).alias("retention"),
        F.floor(_CAP * F.col("t_sel") + 0.5)
        .cast("bigint")
        .alias("per_source_token_cap"),
    )


# --------------------------------------------------------------------------
# Numeric precision audit of money/quantity columns
# --------------------------------------------------------------------------
@query(
    "dq_numeric_precision",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN l_quantity <> floor(l_quantity)
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS non_integer_qty,
           CAST(sum(CASE WHEN abs(l_extendedprice * 100
                             - floor(l_extendedprice * 100 + 0.5)) > 1e-6
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS subcent_prices,
           CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.5
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS discount_out_of_policy,
           CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS nonpositive_prices,
           CAST(sum(CASE WHEN l_tax < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS negative_tax
    FROM lineitem
    """,
)
def dq_numeric_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-integrity audit: non-integer quantities, prices with
    sub-cent precision (float artifacts from a bad currency cast),
    discounts outside the [0, 0.5] policy band, non-positive prices
    and negative tax — the five cheapest invariants that catch a
    broken upstream type conversion before it reaches finance. One
    conditional-count scan. Ref: reference numeric-rule tests (cf.
    dq_check for the generic rule engine, stats_benford for the
    fraud-flavored cousin)."""
    li = table(spark, sf_dir, "lineitem")
    c = lambda p: F.sum(F.when(p, 1).otherwise(0)).cast("bigint")
    price_cents = F.col("l_extendedprice") * 100
    return li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        c(F.col("l_quantity") != F.floor(F.col("l_quantity"))).alias(
            "non_integer_qty"
        ),
        c(
            F.abs(price_cents - F.floor(price_cents + 0.5)) > 1e-6
        ).alias("subcent_prices"),
        c((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)).alias(
            "discount_out_of_policy"
        ),
        c(F.col("l_extendedprice") <= 0).alias("nonpositive_prices"),
        c(F.col("l_tax") < 0).alias("negative_tax"),
    )


# --------------------------------------------------------------------------
# Blocking efficiency: candidate pairs per dedup blocking strategy
# --------------------------------------------------------------------------
@query(
    "llm_blocking_efficiency",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS l,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    strat AS (
      SELECT 'prefix1' AS strategy, l[1] AS bucket FROM t
      UNION ALL
      SELECT 'prefix2', l[1] || ' ' || l[2] FROM t WHERE n >= 2
      UNION ALL
      SELECT 'length_band', CAST(n // 10 AS VARCHAR) FROM t
      UNION ALL
      SELECT 'prefix1_lenband', l[1] || '|' || CAST(n // 10 AS VARCHAR)
      FROM t
    ),
    b AS (
      SELECT strategy, bucket, CAST(count(*) AS DOUBLE) AS c
      FROM strat GROUP BY strategy, bucket
    ),
    s AS (
      SELECT strategy,
             CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(max(c) AS BIGINT) AS max_bucket,
             sum(c * (c - 1) / 2) AS pairs
      FROM b GROUP BY strategy
    ),
    tot AS (
      SELECT CAST(count(*) AS DOUBLE) AS n FROM t
    )
    SELECT s.strategy, s.n_buckets, s.max_bucket,
           CAST(s.pairs AS BIGINT) AS candidate_pairs,
           round(s.pairs / (tot.n * (tot.n - 1) / 2), 9)
             AS pair_reduction_ratio
    FROM s CROSS JOIN tot ORDER BY s.strategy
    """,
)
def llm_blocking_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup blocking cost model: candidate-pair counts Σ C(n_b, 2)
    for four blocking strategies (first token, 2-token prefix,
    length band, prefix×length), each as a fraction of the all-pairs
    n(n−1)/2. THE table that picks a blocking key before any
    similarity computation runs: at 100 TB the difference between a
    1e-4 and 1e-2 reduction ratio is the difference between an hour
    and a cluster-week — computed here without materializing a
    single pair. Integer counts → exact. Ref: reference dedup-cost
    tests (cf. llm_lsh_calibration for the probabilistic analogue,
    llm_rouge_l for a consumer of prefix2 blocking)."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("l"),
        F.size(F.split(F.col("text"), " ")).alias("n"),
    )
    p1 = t.select(
        F.lit("prefix1").alias("strategy"), F.element_at("l", 1).alias("bucket")
    )
    p2 = t.filter(F.col("n") >= 2).select(
        F.lit("prefix2").alias("strategy"),
        F.concat_ws(" ", F.element_at("l", 1), F.element_at("l", 2)).alias(
            "bucket"
        ),
    )
    lb = t.select(
        F.lit("length_band").alias("strategy"),
        F.floor(F.col("n") / 10).cast("string").alias("bucket"),
    )
    pl = t.select(
        F.lit("prefix1_lenband").alias("strategy"),
        F.concat_ws(
            "|", F.element_at("l", 1), F.floor(F.col("n") / 10).cast("string")
        ).alias("bucket"),
    )
    strat = p1.unionAll(p2).unionAll(lb).unionAll(pl)
    b = strat.groupBy("strategy", "bucket").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    s = b.groupBy("strategy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("c").cast("bigint").alias("max_bucket"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("pairs"),
    )
    tot = t.agg(F.count(F.lit(1)).cast("double").alias("n"))
    j = s.crossJoin(F.broadcast(tot))
    return j.select(
        "strategy",
        "n_buckets",
        "max_bucket",
        F.col("pairs").cast("bigint").alias("candidate_pairs"),
        F.round(
            F.col("pairs") / (F.col("n") * (F.col("n") - 1) / 2), 9
        ).alias("pair_reduction_ratio"),
    ).orderBy("strategy")
