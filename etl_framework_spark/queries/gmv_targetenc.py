"""Contract keys: ``sales_gmv_bridge``, ``feat_target_encoding_loo``,
``llm_entropy_rate``.

Revenue bridge decomposition, leakage-safe
target encoding, and corpus entropy rate.

Reference parity: the reference's period-over-period bridge report,
its categorical-encoder prep op, and its language-model entropy
statistics — re-expressed as two-period rollup arithmetic, window
leave-one-out closed forms, and bigram-rollup entropy sums.

Scale notes:

- ``sales_gmv_bridge``: both periods come from ONE conditional
  aggregation keyed by segment (no second scan); the
  volume/price/joint decomposition is expression work on the tiny
  rollup and sums EXACTLY to the revenue delta (identity checked in
  the output).
- ``feat_target_encoding_loo``: leave-one-out encoding is
  (sum − own)/(n − 1) — per-category window sums, no per-row join;
  the rollup here validates the encoder (per-category spread +
  leakage-free mean) without materializing 15k encoded rows.
- ``llm_entropy_rate``: H(w2|w1) needs only the bigram rollup and
  its w1 marginal (re-aggregated, broadcast back) — the corpus-level
  redundancy number that predicts compressibility and flags
  boilerplate-heavy sources.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.textops import shingles, tokens
from etl_framework_spark.registry import query

_M1 = "1996-01"
_M2 = "1996-02"


# --------------------------------------------------------------------------
# GMV bridge: volume / price / joint decomposition between two months
# --------------------------------------------------------------------------
@query(
    "sales_gmv_bridge",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag AS seg,
             sum(CASE WHEN strftime(l_shipdate, '%Y-%m') = '{_M1}'
                      THEN l_quantity ELSE 0 END) AS q1,
             sum(CASE WHEN strftime(l_shipdate, '%Y-%m') = '{_M1}'
                      THEN l_extendedprice ELSE 0 END) AS r1,
             sum(CASE WHEN strftime(l_shipdate, '%Y-%m') = '{_M2}'
                      THEN l_quantity ELSE 0 END) AS q2,
             sum(CASE WHEN strftime(l_shipdate, '%Y-%m') = '{_M2}'
                      THEN l_extendedprice ELSE 0 END) AS r2
      FROM lineitem
      WHERE strftime(l_shipdate, '%Y-%m') IN ('{_M1}', '{_M2}')
      GROUP BY seg
    ),
    b AS (
      SELECT seg, q1, q2, r1, r2, r1 / q1 AS p1, r2 / q2 AS p2
      FROM m WHERE q1 > 0 AND q2 > 0
    )
    SELECT seg,
           round(r2 - r1, 6) AS revenue_delta,
           round((q2 - q1) * p1, 6) AS volume_effect,
           round(q1 * (p2 - p1), 6) AS price_effect,
           round((q2 - q1) * (p2 - p1), 6) AS joint_effect,
           round((r2 - r1) - ((q2 - q1) * p1 + q1 * (p2 - p1)
                              + (q2 - q1) * (p2 - p1)), 6) + 0.0 AS residual
    FROM b
    """,
)
def sales_gmv_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue bridge per return-flag segment:
    ΔR = volume effect (Δq·p₁) + price effect (q₁·Δp) + joint effect
    (Δq·Δp) with unit price p = revenue/quantity — the waterfall
    every finance review wants, and an EXACT decomposition (the
    residual column must be 0 by algebra, kept as the built-in
    check). Both months come from one conditional aggregation; the
    month filter prunes the scan. Ref: reference bridge-report tests
    (cf. sales_mom_growth, events_mix_drift)."""
    li = table(spark, sf_dir, "lineitem")
    ym = F.date_format("l_shipdate", "yyyy-MM")
    m = (
        li.filter(ym.isin(_M1, _M2))
        .groupBy(F.col("l_returnflag").alias("seg"))
        .agg(
            F.sum(F.when(ym == _M1, F.col("l_quantity")).otherwise(0)).alias("q1"),
            F.sum(F.when(ym == _M1, F.col("l_extendedprice")).otherwise(0)).alias(
                "r1"
            ),
            F.sum(F.when(ym == _M2, F.col("l_quantity")).otherwise(0)).alias("q2"),
            F.sum(F.when(ym == _M2, F.col("l_extendedprice")).otherwise(0)).alias(
                "r2"
            ),
        )
        .filter((F.col("q1") > 0) & (F.col("q2") > 0))
        .withColumn("p1", F.col("r1") / F.col("q1"))
        .withColumn("p2", F.col("r2") / F.col("q2"))
    )
    dq, dp = F.col("q2") - F.col("q1"), F.col("p2") - F.col("p1")
    dr = F.col("r2") - F.col("r1")
    return m.select(
        "seg",
        F.round(dr, 6).alias("revenue_delta"),
        F.round(dq * F.col("p1"), 6).alias("volume_effect"),
        F.round(F.col("q1") * dp, 6).alias("price_effect"),
        F.round(dq * dp, 6).alias("joint_effect"),
        (
            F.round(dr - (dq * F.col("p1") + F.col("q1") * dp + dq * dp), 6)
            + 0.0  # normalize IEEE -0.0 so both engines emit +0.0
        ).alias("residual"),
    )


# --------------------------------------------------------------------------
# Leave-one-out target encoding of order priority vs finalized status
# --------------------------------------------------------------------------
@query(
    "feat_target_encoding_loo",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority AS cat,
             CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
      FROM orders
    ),
    e AS (
      SELECT cat, y,
             (sum(y) OVER (PARTITION BY cat) - y)
               / (count(*) OVER (PARTITION BY cat) - 1) AS te
      FROM r
    )
    SELECT cat,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(avg(y), 6) AS target_rate,
           round(avg(te), 6) AS te_mean,
           round(min(te), 6) AS te_min,
           round(max(te), 6) AS te_max,
           round(avg(CASE WHEN y = 1.0 THEN te END)
                 - avg(CASE WHEN y = 0.0 THEN te END), 6) AS te_label_gap
    FROM e GROUP BY cat
    """,
)
def feat_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against the
    finalized-status label: each row's encoding is the category's
    label mean EXCLUDING the row itself — (Σy − y)/(n − 1) — the
    standard trick that keeps the encoder from leaking its own label.
    Two window aggregates per row, no join; the report validates the
    encoder per category: te_mean equals the plain rate (LOO is
    unbiased) while te_label_gap = −n/((n−1)) · rate-variance shows
    the anti-correlation that PROVES no self-leakage (a leaky
    encoder would have a positive gap). Ref: reference
    categorical-encoder tests (cf. feat_index, feat_hashing)."""
    od = table(spark, sf_dir, "orders")
    r = od.select(
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("y"),
    )
    wc = W.partitionBy("cat")
    e = r.withColumn(
        "te",
        (F.sum("y").over(wc) - F.col("y")) / (F.count(F.lit(1)).over(wc) - 1),
    )
    return e.groupBy("cat").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.avg("y"), 6).alias("target_rate"),
        F.round(F.avg("te"), 6).alias("te_mean"),
        F.round(F.min("te"), 6).alias("te_min"),
        F.round(F.max("te"), 6).alias("te_max"),
        F.round(
            F.avg(F.when(F.col("y") == 1.0, F.col("te")))
            - F.avg(F.when(F.col("y") == 0.0, F.col("te"))),
            6,
        ).alias("te_label_gap"),
    )


# --------------------------------------------------------------------------
# Bigram conditional entropy (entropy rate) of the corpus
# --------------------------------------------------------------------------
@query(
    "llm_entropy_rate",
    oracle="""
    WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
    bi AS (SELECT unnest(list_transform(
                    generate_series(1, greatest(len(l) - 1, 1)),
                    i -> concat_ws(' ', l[i], l[i+1]))) AS bg
           FROM t),
    bic AS (SELECT split_part(bg, ' ', 1) AS w1,
                   split_part(bg, ' ', 2) AS w2,
                   CAST(count(*) AS DOUBLE) AS c
            FROM bi GROUP BY w1, w2),
    rt AS (SELECT w1, sum(c) AS r FROM bic GROUP BY w1),
    nn AS (SELECT sum(c) AS n FROM bic),
    hh AS (
      SELECT
        sum(-(bic.c / nn.n) * ln(bic.c / rt.r)) AS h_cond,
        sum(-(bic.c / nn.n) * ln(bic.c / nn.n)) AS h_joint,
        CAST(count(*) AS BIGINT) AS n_bigram_types,
        max(nn.n) AS n
      FROM bic JOIN rt ON bic.w1 = rt.w1 CROSS JOIN nn
    )
    SELECT CAST(n AS BIGINT) AS n_bigrams,
           n_bigram_types,
           round(h_joint, 6) AS h_joint_nats,
           round(h_cond, 6) AS h_cond_nats,
           round(h_joint - h_cond, 6) AS h_marginal_nats,
           round(exp(h_cond), 6) AS perplexity
    FROM hh
    """,
)
def llm_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus entropy rate: the conditional entropy H(w₂|w₁) =
    −Σ p(w₁,w₂)·ln p(w₂|w₁) of the bigram model, its joint entropy,
    the chain-rule marginal H(w₁) = H_joint − H_cond, and the
    per-token perplexity e^H — the single number that predicts how
    compressible (how boilerplate-heavy) a corpus is before training
    on it. Needs only the bigram rollup and its first-word marginal
    (re-aggregated from the same rollup, broadcast back); entropy
    sums run over bigram TYPES, not tokens. Ref: reference LM-stats
    tests (cf. llm_char_entropy, llm_kn_bigram)."""
    docs = table(spark, sf_dir, "documents")
    bic = (
        docs.select(tokens("text").alias("l"))
        .select(F.explode(shingles("l", 2)).alias("bg"))
        .select(
            F.expr("split_part(bg, ' ', 1)").alias("w1"),
            F.expr("split_part(bg, ' ', 2)").alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    rt = bic.groupBy("w1").agg(F.sum("c").alias("r"))
    nn = bic.agg(F.sum("c").alias("n"))
    hh = (
        bic.join(F.broadcast(rt), "w1")
        .crossJoin(F.broadcast(nn))
        .agg(
            F.sum(
                -(F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("r"))
            ).alias("h_cond"),
            F.sum(
                -(F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n"))
            ).alias("h_joint"),
            F.count(F.lit(1)).cast("bigint").alias("n_bigram_types"),
            F.max("n").alias("n"),
        )
    )
    return hh.select(
        F.col("n").cast("bigint").alias("n_bigrams"),
        "n_bigram_types",
        F.round("h_joint", 6).alias("h_joint_nats"),
        F.round("h_cond", 6).alias("h_cond_nats"),
        F.round(F.col("h_joint") - F.col("h_cond"), 6).alias("h_marginal_nats"),
        F.round(F.exp("h_cond"), 6).alias("perplexity"),
    )
