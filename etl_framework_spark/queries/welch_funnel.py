"""Contract keys: ``stats_weighted_ttest``, ``llm_curation_funnel``,
``llm_dedup_audit_sample``.

Weighted Welch test, curation funnel, and
the borderline-pair audit sample.

Reference parity: the reference's survey-weighted inference, its
filter-pipeline retention report, and its human-audit sampler —
re-expressed as weighted moment closed forms, cumulative boolean
conditions in one scan, and a hash-ordered borderline selection.

Scale notes:

- ``stats_weighted_ttest``: weighted moments per group, one scan;
  ESS makes the inflation from weight skew visible.
- ``llm_curation_funnel``: all four stages evaluate as cumulative
  booleans in ONE pass — the funnel never materializes
  intermediate corpora.
- ``llm_dedup_audit_sample``: borderline pairs come from the same
  banded shingle join as llm_dedup_jaccard; the audit sample is
  hash-ordered (stable across runs and partitions).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

_AUDIT_LO, _AUDIT_HI = 0.02, 0.85  # borderline similarity band
_AUDIT_N = 10


# --------------------------------------------------------------------------
# Weighted Welch test: quantity-weighted price gap between flags
# --------------------------------------------------------------------------
@query(
    "stats_weighted_ttest",
    oracle="""
    WITH base AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS grp,
             l_extendedprice AS y,
             CAST(l_quantity AS DOUBLE) AS w
      FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ),
    g AS (
      SELECT grp, sum(w) AS sw, sum(w * w) AS sww,
             sum(w * y) AS swy, sum(w * y * y) AS swyy
      FROM base GROUP BY grp
    ),
    s AS (
      SELECT grp, sw * sw / sww AS ess, swy / sw AS m,
             (swyy / sw - (swy / sw) * (swy / sw))
               * (sw * sw / sww) / (sw * sw / sww - 1) AS v
      FROM g
    ),
    wide AS (
      SELECT max(CASE WHEN grp = 1 THEN ess END) AS e1,
             max(CASE WHEN grp = 1 THEN m END) AS m1,
             max(CASE WHEN grp = 1 THEN v END) AS v1,
             max(CASE WHEN grp = 0 THEN ess END) AS e0,
             max(CASE WHEN grp = 0 THEN m END) AS m0,
             max(CASE WHEN grp = 0 THEN v END) AS v0
      FROM s
    )
    SELECT floor(e1 * 100 + 0.5) / 100 AS ess_r,
           floor(e0 * 100 + 0.5) / 100 AS ess_n,
           floor(m1 * 1000000 + 0.5) / 1000000 AS wmean_r,
           floor(m0 * 1000000 + 0.5) / 1000000 AS wmean_n,
           floor((m1 - m0) * 1000000 + 0.5) / 1000000 AS wmean_diff,
           floor((m1 - m0) / sqrt(v1 / e1 + v0 / e0) * 10000 + 0.5) / 10000
             AS weighted_z
    FROM wide
    """,
)
def stats_weighted_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED Welch comparison of unit revenue between
    returned and kept lines: weighted means, weighted variances, and
    the effective sample size ESS = (Σw)²/Σw² standing in for n —
    the inference that stays honest when a few heavy rows carry most
    of the weight (plain t would claim 60k observations; ESS admits
    how few effective ones exist). One weighted-moment scan per
    group. Ref: reference weighted-inference tests (cf.
    train_ess_weights for the diagnostic, stats_ttest_welch for the
    unweighted form)."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "N")
    )
    base = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("grp"),
        F.col("l_extendedprice").alias("y"),
        F.col("l_quantity").cast("double").alias("w"),
    )
    g = base.groupBy("grp").agg(
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("w")).alias("sww"),
        F.sum(F.col("w") * F.col("y")).alias("swy"),
        F.sum(F.col("w") * F.col("y") * F.col("y")).alias("swyy"),
    )
    ess = F.col("sw") * F.col("sw") / F.col("sww")
    m = F.col("swy") / F.col("sw")
    v = (F.col("swyy") / F.col("sw") - m * m) * ess / (ess - 1)
    s = g.select("grp", ess.alias("ess"), m.alias("m"), v.alias("v"))
    wide = s.agg(
        F.max(F.when(F.col("grp") == 1, F.col("ess"))).alias("e1"),
        F.max(F.when(F.col("grp") == 1, F.col("m"))).alias("m1"),
        F.max(F.when(F.col("grp") == 1, F.col("v"))).alias("v1"),
        F.max(F.when(F.col("grp") == 0, F.col("ess"))).alias("e0"),
        F.max(F.when(F.col("grp") == 0, F.col("m"))).alias("m0"),
        F.max(F.when(F.col("grp") == 0, F.col("v"))).alias("v0"),
    )
    q = lambda c, s_: F.floor(c * F.lit(s_) + F.lit(0.5)) / F.lit(s_)
    return wide.select(
        q(F.col("e1"), 100.0).alias("ess_r"),
        q(F.col("e0"), 100.0).alias("ess_n"),
        q(F.col("m1"), 1000000.0).alias("wmean_r"),
        q(F.col("m0"), 1000000.0).alias("wmean_n"),
        q(F.col("m1") - F.col("m0"), 1000000.0).alias("wmean_diff"),
        q(
            (F.col("m1") - F.col("m0"))
            / F.sqrt(F.col("v1") / F.col("e1") + F.col("v0") / F.col("e0")),
            10000.0,
        ).alias("weighted_z"),
    )


# --------------------------------------------------------------------------
# Curation funnel: token retention through sequential filters
# --------------------------------------------------------------------------
@query(
    "llm_curation_funnel",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n,
             len(list_distinct(string_split(text, ' '))) AS nd,
             md5(text) AS th,
             row_number() OVER (PARTITION BY md5(text)
                                ORDER BY doc_id) AS dup_rank
      FROM documents
    ),
    f AS (
      SELECT n,
             n >= 20 AS pass_len,
             n >= 20 AND nd * 2 >= n AS pass_quality,
             n >= 20 AND nd * 2 >= n AND dup_rank = 1 AS pass_dedup,
             n >= 20 AND nd * 2 >= n AND dup_rank = 1
               AND lang = 'en' AS pass_lang
      FROM d
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS docs0,
             CAST(sum(n) AS BIGINT) AS toks0,
             CAST(sum(CASE WHEN pass_len THEN 1 ELSE 0 END) AS BIGINT)
               AS docs1,
             CAST(sum(CASE WHEN pass_len THEN n ELSE 0 END) AS BIGINT)
               AS toks1,
             CAST(sum(CASE WHEN pass_quality THEN 1 ELSE 0 END) AS BIGINT)
               AS docs2,
             CAST(sum(CASE WHEN pass_quality THEN n ELSE 0 END) AS BIGINT)
               AS toks2,
             CAST(sum(CASE WHEN pass_dedup THEN 1 ELSE 0 END) AS BIGINT)
               AS docs3,
             CAST(sum(CASE WHEN pass_dedup THEN n ELSE 0 END) AS BIGINT)
               AS toks3,
             CAST(sum(CASE WHEN pass_lang THEN 1 ELSE 0 END) AS BIGINT)
               AS docs4,
             CAST(sum(CASE WHEN pass_lang THEN n ELSE 0 END) AS BIGINT)
               AS toks4
      FROM f
    )
    SELECT stage, docs, tokens,
           round(CAST(tokens AS DOUBLE)
                 / (SELECT toks0 FROM tot), 6) AS token_retention
    FROM (
      SELECT 0 AS stage, docs0 AS docs, toks0 AS tokens FROM tot
      UNION ALL SELECT 1, docs1, toks1 FROM tot
      UNION ALL SELECT 2, docs2, toks2 FROM tot
      UNION ALL SELECT 3, docs3, toks3 FROM tot
      UNION ALL SELECT 4, docs4, toks4 FROM tot
    ) ORDER BY stage
    """,
)
def llm_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel retention: documents and tokens surviving the
    sequential pipeline (0 raw → 1 length ≥ 20 → 2 lexical quality →
    3 exact dedup keep-first → 4 lang = 'en'), with token retention
    vs raw. THE budgeting table a training-data pipeline prints
    first: it says which stage eats the corpus BEFORE anyone tunes
    thresholds. All stages evaluate as cumulative booleans in one
    scan — no intermediate corpus is written. Integer counts →
    exact. Ref: reference pipeline-retention tests (cf.
    llm_quality_filter for one stage, pipeline_curation for the
    executable pipeline)."""
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    toks = F.split(F.col("text"), " ")
    d = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n"),
        F.size(F.array_distinct(toks)).alias("nd"),
        F.md5(F.col("text")).alias("th"),
    ).withColumn(
        "dup_rank",
        F.row_number().over(W.partitionBy("th").orderBy("doc_id")),
    )
    p1 = F.col("n") >= 20
    p2 = p1 & (F.col("nd") * 2 >= F.col("n"))
    p3 = p2 & (F.col("dup_rank") == 1)
    p4 = p3 & (F.col("lang") == "en")
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("docs0"),
        F.sum("n").cast("bigint").alias("toks0"),
        F.sum(F.when(p1, 1).otherwise(0)).cast("bigint").alias("docs1"),
        F.sum(F.when(p1, F.col("n")).otherwise(0)).cast("bigint").alias("toks1"),
        F.sum(F.when(p2, 1).otherwise(0)).cast("bigint").alias("docs2"),
        F.sum(F.when(p2, F.col("n")).otherwise(0)).cast("bigint").alias("toks2"),
        F.sum(F.when(p3, 1).otherwise(0)).cast("bigint").alias("docs3"),
        F.sum(F.when(p3, F.col("n")).otherwise(0)).cast("bigint").alias("toks3"),
        F.sum(F.when(p4, 1).otherwise(0)).cast("bigint").alias("docs4"),
        F.sum(F.when(p4, F.col("n")).otherwise(0)).cast("bigint").alias("toks4"),
    )
    rows = []
    for i in range(5):
        rows.append(
            tot.select(
                F.lit(i).alias("stage"),
                F.col(f"docs{i}").alias("docs"),
                F.col(f"toks{i}").alias("tokens"),
                F.round(
                    F.col(f"toks{i}").cast("double") / F.col("toks0"), 6
                ).alias("token_retention"),
            )
        )
    res = rows[0]
    for r in rows[1:]:
        res = res.unionAll(r)
    return res.orderBy("stage")


# --------------------------------------------------------------------------
# Dedup audit sample: borderline-similarity pairs, hash-ordered
# --------------------------------------------------------------------------
@query(
    "llm_dedup_audit_sample",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i + 1] || ' ' ||
                    string_split(text, ' ')[i + 2])) AS sh
      FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    e AS (SELECT doc_id, unnest(sh) AS s FROM t),
    sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM t),
    w AS (
      SELECT a.doc_id AS i, b.doc_id AS j,
             CAST(count(*) AS BIGINT) AS common
      FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY i, j
    ),
    scored AS (
      SELECT w.i, w.j, w.common, za.n AS n1, zb.n AS n2,
             CAST(w.common AS DOUBLE) / (za.n + zb.n - w.common) AS jac
      FROM w JOIN sz za ON za.doc_id = w.i JOIN sz zb ON zb.doc_id = w.j
    ),
    border AS (
      SELECT i, j, common, n1, n2, round(jac, 6) AS jaccard,
             (i * 2654435761 + j * 40503) % 4294967296 AS hkey
      FROM scored WHERE jac >= {_AUDIT_LO} AND jac < {_AUDIT_HI}
    )
    SELECT i AS doc_id_1, j AS doc_id_2, common AS common_shingles,
           n1 AS shingles_1, n2 AS shingles_2, jaccard
    FROM border ORDER BY hkey, i, j LIMIT {_AUDIT_N}
    """,
)
def llm_dedup_audit_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borderline-pair audit sample: document pairs whose 3-gram
    shingle Jaccard lands in the gray zone [0.02, 0.85) — too
    similar to ignore, too different to auto-delete — selected by a
    DETERMINISTIC multiplicative hash of the pair ids (stable across
    runs, partitions, and engines; no RNG). This is the sample a
    human labels to SET the dedup threshold, which makes its
    determinism a product requirement, not a convenience. Same
    shingle wedge join as llm_dedup_jaccard. Ref: reference
    audit-sampling tests (cf. llm_dedup_threshold_sweep for the
    aggregate view, sample_hash_topk for the hash-sampling
    primitive)."""
    from etl_framework_spark.operators.dedup import shingles3

    docs = table(spark, sf_dir, "documents")
    # Arrow-batched shingle build (operators/dedup.shingles3): one
    # pass yields both the exploded shingles and the per-doc size —
    # the declarative transform/element_at form evaluated interpreted
    # at ~16 µs/shingle and this query needed it in three subtrees
    # (9.4 s -> 1.5 s at sf0.1, byte-identical shingles). r10: persist
    # the frame too — the three subtrees (both self-join sides + the
    # size lookup) otherwise rerun the Arrow UDF thrice.
    t = shingles3(docs).transform(persist_tracked)
    e = t.select("doc_id", "s")
    sz = t.select("doc_id", "n").dropDuplicates(["doc_id"])
    # r12 (guide §2.4; the r11 one-shuffle-pair-build playbook): the
    # shingle wedge SELF-join (two join-side exchanges on s + the pair
    # count exchange) is the exact co_occurrence_pairs shape — one
    # collect_set exchange per shingle, JVM-side pair explode (i < j
    # by sort order), partial-agg count. Same pair blow-up bound
    # (Σ freq² per shingle), one fewer exchange; the cap is passed
    # structurally inert because the oracle is uncapped. Alternating
    # A/B at sf0.1: 2.97 → 2.52 s median, output identical.
    from etl_framework_spark.operators.graph import co_occurrence_pairs

    w = co_occurrence_pairs(
        e, "s", "doc_id", max_group_degree=2**31 - 1
    ).select(
        F.col("u").alias("i"),
        F.col("v").alias("j"),
        F.col("c").cast("bigint").alias("common"),
    )
    za = sz.select(F.col("doc_id").alias("i"), F.col("n").alias("n1"))
    zb = sz.select(F.col("doc_id").alias("j"), F.col("n").alias("n2"))
    scored = (
        w.join(F.broadcast(za), "i")
        .join(F.broadcast(zb), "j")
        .select(
            "i",
            "j",
            "common",
            "n1",
            "n2",
            (
                F.col("common").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("common"))
            ).alias("jac"),
        )
    )
    border = scored.filter(
        (F.col("jac") >= _AUDIT_LO) & (F.col("jac") < _AUDIT_HI)
    ).select(
        "i",
        "j",
        "common",
        "n1",
        "n2",
        F.round("jac", 6).alias("jaccard"),
        ((F.col("i") * 2654435761 + F.col("j") * 40503) % 4294967296).alias(
            "hkey"
        ),
    )
    return (
        border.orderBy("hkey", "i", "j")
        .limit(_AUDIT_N)
        .select(
            F.col("i").alias("doc_id_1"),
            F.col("j").alias("doc_id_2"),
            F.col("common").alias("common_shingles"),
            F.col("n1").alias("shingles_1"),
            F.col("n2").alias("shingles_2"),
            "jaccard",
        )
    )
