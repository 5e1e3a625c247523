"""Contract keys: ``stats_posthoc_pairs``, ``orders_status_aging``,
``llm_entropy_ladder``.

Post-hoc pairwise contrasts, order-status
aging, and the conditional-entropy ladder.

Reference parity: the reference's ANOVA follow-up, its lifecycle
aging report, and its n-gram information ladder — re-expressed as
pooled-SE pairwise contrasts, an age-bucketed status mix, and three
xlogx rollups.

Scale notes:

- ``stats_posthoc_pairs``: group moments once; the 3 contrasts are
  row-local arithmetic over the k-row rollup self-join.
- ``orders_status_aging``: one banded conditional rollup.
- ``llm_entropy_ladder``: H1/H2/H3 each come from one n-gram rollup;
  conditional entropies are differences of xlogx sums.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6


# --------------------------------------------------------------------------
# Post-hoc pairwise contrasts after the quantity-by-flag ANOVA
# --------------------------------------------------------------------------
@query(
    "stats_posthoc_pairs",
    oracle="""
    WITH g AS (
      SELECT l_returnflag AS flag,
             CAST(count(*) AS DOUBLE) AS n,
             sum(CAST(l_quantity AS DOUBLE)) AS sx,
             sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE))
               AS sxx
      FROM lineitem GROUP BY flag
    ),
    mse AS (
      SELECT sum(sxx - sx * sx / n) / (sum(n) - count(*)) AS s2,
             sum(n) - count(*) AS dfw
      FROM g
    ),
    pairs AS (
      SELECT a.flag AS flag_1, b.flag AS flag_2,
             a.sx / a.n - b.sx / b.n AS diff,
             sqrt(mse.s2 * (1.0 / a.n + 1.0 / b.n)) AS se,
             mse.dfw AS dfw
      FROM g a JOIN g b ON a.flag < b.flag CROSS JOIN mse
    )
    SELECT flag_1, flag_2,
           round(diff, 6) AS mean_diff,
           round(se, 6) AS pooled_se,
           round(diff / se, 6) AS t_stat,
           CAST(dfw AS BIGINT) AS df_within
    FROM pairs ORDER BY flag_1, flag_2
    """,
)
def stats_posthoc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-hoc pairwise contrasts after the quantity-by-flag ANOVA:
    every flag pair's mean difference with the POOLED within-group
    SE √(MSE(1/n_i+1/n_j)) and its t — the Fisher-LSD table that
    says WHICH groups differ once the omnibus F fires (feed |t| to
    a Tukey/Bonferroni cutoff of choice; the statistics are the
    same). Group moments once, contrasts are k(k−1)/2 rows of
    arithmetic. Integer sums → exact. Ref: reference post-hoc tests
    (cf. stats_anova for the omnibus, stats_fdr_bh for the
    multiplicity correction)."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("double")
    g = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    mse = g.agg(
        (
            F.sum(F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.sum("n") - F.count(F.lit(1)))
        ).alias("s2"),
        (F.sum("n") - F.count(F.lit(1))).alias("dfw"),
    )
    a = g.select(
        F.col("flag").alias("flag_1"),
        (F.col("sx") / F.col("n")).alias("m1"),
        F.col("n").alias("n1"),
    )
    b = g.select(
        F.col("flag").alias("flag_2"),
        (F.col("sx") / F.col("n")).alias("m2"),
        F.col("n").alias("n2"),
    )
    pairs = (
        a.join(b, F.col("flag_1") < F.col("flag_2"))
        .crossJoin(F.broadcast(mse))
        .select(
            "flag_1",
            "flag_2",
            (F.col("m1") - F.col("m2")).alias("diff"),
            F.sqrt(F.col("s2") * (1.0 / F.col("n1") + 1.0 / F.col("n2"))).alias(
                "se"
            ),
            F.col("dfw"),
        )
    )
    return pairs.select(
        "flag_1",
        "flag_2",
        F.round("diff", 6).alias("mean_diff"),
        F.round("se", 6).alias("pooled_se"),
        F.round(F.col("diff") / F.col("se"), 6).alias("t_stat"),
        F.col("dfw").cast("bigint").alias("df_within"),
    ).orderBy("flag_1", "flag_2")


# --------------------------------------------------------------------------
# Order status mix by order age bucket
# --------------------------------------------------------------------------
@query(
    "orders_status_aging",
    oracle="""
    WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS asof FROM orders),
    b AS (
      SELECT o_orderstatus AS status,
             CAST(least(floor(date_diff('day', CAST(o_orderdate AS DATE),
                                        mx.asof) / 365.0), 4) AS BIGINT)
               AS age_years
      FROM orders CROSS JOIN mx
    ),
    cell AS (
      SELECT age_years, status, CAST(count(*) AS BIGINT) AS n
      FROM b GROUP BY age_years, status
    ),
    tot AS (SELECT age_years, sum(n) AS t FROM cell GROUP BY age_years)
    SELECT c.age_years, c.status, c.n,
           round(CAST(c.n AS DOUBLE) / tot.t, 6) AS share_in_age_band
    FROM cell c JOIN tot ON c.age_years = tot.age_years
    ORDER BY c.age_years, c.status
    """,
)
def orders_status_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-status mix by age band (years before the dataset's
    as-of date, capped at 4+): the lifecycle table where 'open'
    status lingering in old bands means stuck workflow — recent
    bands SHOULD be open-heavy, old bands finished-heavy; a flat mix
    says status doesn't track fulfillment at all. One banded
    conditional rollup + per-band shares; integer counts → exact.
    Ref: reference lifecycle-aging tests (cf. orders_backlog_aging
    for the money view, cdc_scd2 for state history)."""
    od = table(spark, sf_dir, "orders")
    mx = od.agg(F.max(F.col("o_orderdate").cast("date")).alias("asof"))
    b = od.crossJoin(F.broadcast(mx)).select(
        F.col("o_orderstatus").alias("status"),
        F.least(
            F.floor(
                F.datediff(F.col("asof"), F.col("o_orderdate").cast("date"))
                / 365.0
            ),
            F.lit(4),
        )
        .cast("bigint")
        .alias("age_years"),
    )
    cell = b.groupBy("age_years", "status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = cell.groupBy("age_years").agg(F.sum("n").alias("t"))
    return (
        cell.join(F.broadcast(tot), "age_years")
        .select(
            "age_years",
            "status",
            "n",
            F.round(F.col("n").cast("double") / F.col("t"), 6).alias(
                "share_in_age_band"
            ),
        )
        .orderBy("age_years", "status")
    )


# --------------------------------------------------------------------------
# Conditional-entropy ladder: information per token at 0/1/2 context
# --------------------------------------------------------------------------
@query(
    "llm_entropy_ladder",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS l,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    uni AS (
      SELECT l[i] AS w, CAST(count(*) AS DOUBLE) AS c
      FROM (SELECT l, unnest(generate_series(1, n)) AS i FROM t)
      GROUP BY w
    ),
    bi AS (
      SELECT l[i] || ' ' || l[i + 1] AS w, CAST(count(*) AS DOUBLE) AS c
      FROM (SELECT l, unnest(generate_series(1, n - 1)) AS i FROM t
            WHERE n >= 2)
      GROUP BY w
    ),
    tri AS (
      SELECT l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS w,
             CAST(count(*) AS DOUBLE) AS c
      FROM (SELECT l, unnest(generate_series(1, n - 2)) AS i FROM t
            WHERE n >= 3)
      GROUP BY w
    ),
    h AS (
      SELECT
        (SELECT -sum(c / t1.s * ln(c / t1.s))
         FROM uni CROSS JOIN (SELECT sum(c) AS s FROM uni) t1) AS h1,
        (SELECT -sum(c / t2.s * ln(c / t2.s))
         FROM bi CROSS JOIN (SELECT sum(c) AS s FROM bi) t2) AS h2j,
        (SELECT -sum(c / t3.s * ln(c / t3.s))
         FROM tri CROSS JOIN (SELECT sum(c) AS s FROM tri) t3) AS h3j
    )
    SELECT floor(h1 * 1000000 + 0.5) / 1000000 AS h1,
           floor((h2j - h1) * 1000000 + 0.5) / 1000000 AS h2_given_1,
           floor((h3j - h2j) * 1000000 + 0.5) / 1000000 AS h3_given_2,
           floor((1.0 - (h3j - h2j) / h1) * 1000000 + 0.5) / 1000000
             AS redundancy_at_2
    FROM h
    """,
)
def llm_entropy_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-entropy ladder of the corpus: H(w) unconditioned,
    H(w|1 prior token) = H(bigram) − H(unigram), H(w|2 prior) =
    H(trigram) − H(bigram), and the redundancy 1 − H(w|2)/H(w).
    The curve of information-per-token vs context length — how much
    a language model GAINS from context on this corpus, and the
    information-theoretic ceiling for compression/dedup. Three
    n-gram rollups + xlogx sums; integer counts → deterministic
    logs. Ref: reference information-ladder tests (cf.
    llm_entropy_rate for the bigram-only rate, llm_char_entropy for
    the character floor)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    t = docs.select("doc_id", toks.alias("l"), F.size(toks).alias("n"))

    def grams(k: int):
        base = t.filter(F.col("n") >= k).select(
            "l", F.explode(F.sequence(F.lit(1), F.col("n") - (k - 1))).alias("i")
        )
        parts = [F.element_at("l", F.col("i") + j) for j in range(k)]
        return base.select(F.concat_ws(" ", *parts).alias("w")).groupBy("w").agg(
            F.count(F.lit(1)).cast("double").alias("c")
        )

    def ent(df):
        tot = df.agg(F.sum("c").alias("s"))
        return (
            df.crossJoin(F.broadcast(tot))
            .agg(
                (-F.sum(F.col("c") / F.col("s") * F.log(F.col("c") / F.col("s"))))
                .alias("h")
            )
        )

    h1 = ent(grams(1)).select(F.col("h").alias("h1"))
    h2 = ent(grams(2)).select(F.col("h").alias("h2j"))
    h3 = ent(grams(3)).select(F.col("h").alias("h3j"))
    j = h1.crossJoin(F.broadcast(h2)).crossJoin(F.broadcast(h3))
    return j.select(
        q6(F.col("h1")).alias("h1"),
        q6(F.col("h2j") - F.col("h1")).alias("h2_given_1"),
        q6(F.col("h3j") - F.col("h2j")).alias("h3_given_2"),
        q6(1.0 - (F.col("h3j") - F.col("h2j")) / F.col("h1")).alias(
            "redundancy_at_2"
        ),
    )
