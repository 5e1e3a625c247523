"""Contract keys: ``llm_bigram_oov_split``, ``stats_mood_median``,
``ts_growth_persistence``.

Held-out bigram OOV, Mood's median test, and
growth-sign persistence.

Reference parity: the reference's LM held-out evaluation, its
median-based k-sample test, and its momentum-persistence probe —
re-expressed as a first/second-half bigram anti-join, grand-median
contingency counts, and a sign-transition rollup.

Scale notes:

- ``llm_bigram_oov_split``: two bigram rollups + one anti-join on
  the bigram key.
- ``stats_mood_median``: the grand median comes from the exact
  value rollup; the test is a 2×k count table.
- ``ts_growth_persistence``: |months| lag window + 2×2 transition
  counts.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# Held-out bigram OOV: train on first half, test on second
# --------------------------------------------------------------------------
@query(
    "llm_bigram_oov_split",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS l,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE len(string_split(text, ' ')) >= 2
    ),
    split AS (
      SELECT doc_id, l, n,
             CASE WHEN doc_id % 2 = 0 THEN 'train' ELSE 'test' END AS fold
      FROM t
    ),
    bg AS (
      SELECT fold, l[i] || ' ' || l[i + 1] AS b
      FROM (SELECT fold, l, unnest(generate_series(1, n - 1)) AS i
            FROM split)
    ),
    train_v AS (SELECT DISTINCT b FROM bg WHERE fold = 'train'),
    test_b AS (
      SELECT b, CAST(count(*) AS DOUBLE) AS c
      FROM bg WHERE fold = 'test' GROUP BY b
    ),
    m AS (
      SELECT sum(t.c) AS total,
             sum(CASE WHEN v.b IS NULL THEN t.c ELSE 0 END) AS oov,
             CAST(count(*) AS BIGINT) AS test_types,
             CAST(sum(CASE WHEN v.b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS oov_types
      FROM test_b t LEFT JOIN train_v v ON t.b = v.b
    )
    SELECT CAST(total AS BIGINT) AS test_bigrams,
           test_types, oov_types,
           round(oov / total, 6) AS oov_token_rate,
           round(CAST(oov_types AS DOUBLE) / test_types, 6) AS oov_type_rate
    FROM m
    """,
)
def llm_bigram_oov_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram OOV: train vocabulary from even doc_ids, test
    on odd — the share of test bigram TOKENS and TYPES never seen in
    training. This is the floor any bigram LM's smoothing must
    cover (llm_kn_bigram's discount exists exactly because this
    number isn't zero), and the train/test split by id parity is
    the same deterministic fold train_split uses. Two bigram
    rollups + one anti-join. Integer counts → exact. Ref: reference
    held-out-eval tests (cf. llm_vocab_oov_curve for the unigram
    frequency axis, llm_eval_xent for the likelihood version)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    t = docs.filter(F.size(toks) >= 2).select(
        "doc_id",
        toks.alias("l"),
        F.size(toks).alias("n"),
        F.when(F.col("doc_id") % 2 == 0, "train").otherwise("test").alias(
            "fold"
        ),
    )
    bg = t.select(
        "fold",
        "l",
        F.explode(F.sequence(F.lit(1), F.col("n") - 1)).alias("i"),
    ).select(
        "fold",
        F.concat_ws(
            " ", F.element_at("l", F.col("i")), F.element_at("l", F.col("i") + 1)
        ).alias("b"),
    )
    train_v = bg.filter(F.col("fold") == "train").select("b").distinct()
    test_b = (
        bg.filter(F.col("fold") == "test")
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    m = (
        test_b.join(
            train_v.withColumnRenamed("b", "tb"),
            test_b.b == F.col("tb"),
            "left",
        )
        .agg(
            F.sum("c").alias("total"),
            F.sum(F.when(F.col("tb").isNull(), F.col("c")).otherwise(0.0)).alias(
                "oov"
            ),
            F.count(F.lit(1)).cast("bigint").alias("test_types"),
            F.sum(F.when(F.col("tb").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("oov_types"),
        )
    )
    return m.select(
        F.col("total").cast("bigint").alias("test_bigrams"),
        "test_types",
        "oov_types",
        F.round(F.col("oov") / F.col("total"), 6).alias("oov_token_rate"),
        F.round(
            F.col("oov_types").cast("double") / F.col("test_types"), 6
        ).alias("oov_type_rate"),
    )


# --------------------------------------------------------------------------
# Mood's median test: above-grand-median shares by flag
# --------------------------------------------------------------------------
@query(
    "stats_mood_median",
    oracle="""
    WITH v AS (
      SELECT l_quantity AS q, CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY q
    ),
    cum AS (
      SELECT q, c, sum(c) OVER (ORDER BY q) AS cumc,
             sum(c) OVER () AS tot
      FROM v
    ),
    med AS (
      SELECT CAST(min(CASE WHEN cumc * 2 >= tot THEN q END) AS DOUBLE)
        AS gm FROM cum
    ),
    g AS (
      SELECT l.l_returnflag AS flag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CASE WHEN l.l_quantity > med.gm THEN 1 ELSE 0 END)
                  AS DOUBLE) AS above
      FROM lineitem l CROSS JOIN med GROUP BY flag
    ),
    t AS (SELECT sum(n) AS nn, sum(above) AS aa FROM g)
    SELECT CAST(count(*) AS BIGINT) AS k,
           floor((SELECT gm FROM med) * 100 + 0.5) / 100 AS grand_median,
           floor(sum((g.above - g.n * t.aa / t.nn)
                     * (g.above - g.n * t.aa / t.nn)
                     / (g.n * (t.aa / t.nn) * (1 - t.aa / t.nn)))
                 * 1000000 + 0.5) / 1000000 AS mood_chi2,
           CAST(count(*) - 1 AS BIGINT) AS df
    FROM g CROSS JOIN t
    """,
)
def stats_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: does each return flag put the same share
    of lines ABOVE the grand median quantity? χ² over the observed
    vs expected above-median counts — the coarsest, most
    outlier-proof of the k-sample location tests (only the side of
    the median matters; Kruskal-Wallis uses full ranks, ANOVA full
    values — the three-level sensitivity ladder). Grand median is
    EXACT from the integer value rollup. Ref: reference k-sample
    tests (cf. stats_kruskal_wallis, stats_brown_forsythe for the
    scale analogue)."""
    li = table(spark, sf_dir, "lineitem")
    v = li.groupBy(F.col("l_quantity").alias("q")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = v.select(
        "q",
        "c",
        F.sum("c").over(W.orderBy("q")).alias("cumc"),
        F.sum("c").over(W.partitionBy()).alias("tot"),
    )
    med = cum.agg(
        F.min(F.when(F.col("cumc") * 2 >= F.col("tot"), F.col("q")))
        .cast("double")
        .alias("gm")
    )
    g = (
        li.crossJoin(F.broadcast(med))
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(F.when(F.col("l_quantity") > F.col("gm"), 1).otherwise(0))
            .cast("double")
            .alias("above"),
            F.max("gm").alias("gm"),
        )
    )
    t = g.agg(F.sum("n").alias("nn"), F.sum("above").alias("aa"))
    j = g.crossJoin(F.broadcast(t))
    p = F.col("aa") / F.col("nn")
    chi = F.sum(
        (F.col("above") - F.col("n") * p)
        * (F.col("above") - F.col("n") * p)
        / (F.col("n") * p * (1 - p))
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        (F.floor(F.max("gm") * 100.0 + 0.5) / 100.0).alias("grand_median"),
        (F.floor(chi * 1000000.0 + 0.5) / 1000000.0).alias("mood_chi2"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("df"),
    )


# --------------------------------------------------------------------------
# Growth-sign persistence: P(up | up) for monthly demand
# --------------------------------------------------------------------------
@query(
    "ts_growth_persistence",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS m,
             sum(l_quantity) AS q
      FROM lineitem GROUP BY m
    ),
    d AS (
      SELECT m,
             CASE WHEN q > lag(q) OVER (ORDER BY m) THEN 1
                  WHEN q < lag(q) OVER (ORDER BY m) THEN 0 END AS up
      FROM monthly
    ),
    p AS (
      SELECT up, lag(up) OVER (ORDER BY m) AS pup
      FROM d WHERE up IS NOT NULL
    ),
    c AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CASE WHEN pup = 1 AND up = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS uu,
             CAST(sum(CASE WHEN pup = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               AS u_,
             CAST(sum(CASE WHEN pup = 0 AND up = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS du,
             CAST(sum(CASE WHEN pup = 0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS d_
      FROM p WHERE pup IS NOT NULL
    )
    SELECT CAST(n AS BIGINT) AS n_transitions,
           round(uu / u_, 6) AS p_up_given_up,
           round(du / d_, 6) AS p_up_given_down,
           round(uu / u_ - du / d_, 6) AS persistence
    FROM c
    """,
)
def ts_growth_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-sign persistence of monthly demand: P(up | last was
    up) vs P(up | last was down), and their gap. Positive
    persistence = momentum (trends run), negative = mean reversion
    (ups beget downs), zero = coin flips — the one-table Markov
    answer to 'should last month's direction inform this month's
    plan'. Two lag windows over the |months| rollup; integer
    comparisons → exact. Ref: reference momentum tests (cf.
    events_markov for the full chain, ts_variance_ratio for the
    magnitude version of the same question)."""
    li = table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.date_trunc("month", F.col("l_shipdate").cast("date")).alias("m")
    ).agg(F.sum("l_quantity").alias("q"))
    wd = W.orderBy("m")
    d = monthly.select(
        F.when(F.col("q") > F.lag("q").over(wd), 1)
        .when(F.col("q") < F.lag("q").over(wd), 0)
        .alias("up"),
        F.col("m"),
    ).filter(F.col("up").isNotNull())
    p = d.select(
        "up", F.lag("up").over(W.orderBy("m")).alias("pup")
    ).filter(F.col("pup").isNotNull())
    c = p.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when((F.col("pup") == 1) & (F.col("up") == 1), 1).otherwise(0))
        .cast("double")
        .alias("uu"),
        F.sum(F.when(F.col("pup") == 1, 1).otherwise(0))
        .cast("double")
        .alias("u_"),
        F.sum(F.when((F.col("pup") == 0) & (F.col("up") == 1), 1).otherwise(0))
        .cast("double")
        .alias("du"),
        F.sum(F.when(F.col("pup") == 0, 1).otherwise(0))
        .cast("double")
        .alias("d_"),
    )
    return c.select(
        F.col("n").cast("bigint").alias("n_transitions"),
        F.round(F.col("uu") / F.col("u_"), 6).alias("p_up_given_up"),
        F.round(F.col("du") / F.col("d_"), 6).alias("p_up_given_down"),
        F.round(F.col("uu") / F.col("u_") - F.col("du") / F.col("d_"), 6).alias(
            "persistence"
        ),
    )
