"""Contract keys: ``llm_rouge_l``, ``llm_quality_dedup_interaction``,
``dq_partition_volume_anomaly``.

ROUGE-L near-dup scoring, quality x dedup
interaction, and partition volume anomaly monitoring.

Reference parity: the reference's sequence-similarity scorer
(order-aware, unlike Jaccard), its curation interaction audit, and
its ingest-volume monitor — re-expressed as a nested DP fold over
token arrays, a 2x2 odds-ratio rollup, and a trailing-window robust
z-score.

Scale notes:

- ``llm_rouge_l``: candidate pairs come from a bounded BUCKET join
  (shared 2-token prefix), never all pairs; the LCS dynamic program
  is a ROW-LOCAL nested fold (outer over seq A, inner building the
  DP row over seq B) — identical left-to-right order on both
  engines, all-integer state.
- ``llm_quality_dedup_interaction``: two doc-level flags, one 2x2
  rollup.
- ``dq_partition_volume_anomaly``: |days| rollup + one trailing
  window; robust stats from windowed integer sums.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6

_RL_TOP = 10
_VOL_W = 28  # trailing window (days) for volume baseline


# --------------------------------------------------------------------------
# ROUGE-L: order-aware near-dup score via a row-local LCS fold
# --------------------------------------------------------------------------
@query(
    "llm_rouge_l",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS l,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE len(string_split(text, ' ')) BETWEEN 10 AND 45
    ),
    b AS (
      SELECT doc_id, l, n, l[1] || ' ' || l[2] AS bucket FROM t
    ),
    pairs AS (
      SELECT x.doc_id AS i, y.doc_id AS j,
             x.l AS la, y.l AS lb,
             CAST(x.n AS BIGINT) AS na, CAST(y.n AS BIGINT) AS nb
      FROM b x JOIN b y ON x.bucket = y.bucket AND x.doc_id < y.doc_id
    ),
    mv AS (
      SELECT i, j, na, nb, lb,
             list_transform(la, a ->
               list_transform(lb, bt -> CASE WHEN bt = a
                                             THEN 1 ELSE 0 END)) AS mvs,
             list_transform(range(0, len(lb) + 1), z -> 0) AS init_row
      FROM pairs
    ),
    scored AS (
      SELECT i, j, na, nb,
             list_reduce(list_prepend(init_row, mvs),
               (acc, m) -> list_transform(range(0, len(lb) + 1),
                 j2 -> CASE WHEN j2 = 0 THEN 0
                            ELSE greatest(acc[j2 + 1],
                              list_max(list_transform(range(1, j2 + 1),
                                k -> acc[k] + m[k]))) END)
             )[len(lb) + 1] AS lcs
      FROM mv
    )
    SELECT i AS doc_id_1, j AS doc_id_2, na AS len_1, nb AS len_2,
           CAST(lcs AS BIGINT) AS lcs_len,
           round(2.0 * lcs / (na + nb), 6) AS rouge_l_f1
    FROM scored ORDER BY rouge_l_f1 DESC, i, j LIMIT {_RL_TOP}
    """,
)
def llm_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L near-duplicate scoring: token-level LONGEST COMMON
    SUBSEQUENCE between candidate document pairs (shared 2-token
    prefix bucket — the cheap blocking key), reported as the F1-form
    2·LCS/(|a|+|b|). Order-aware where Jaccard/minhash are
    bag-of-words blind: a shuffled copy scores high on Jaccard but
    low on ROUGE-L, so the two together separate 'same words' from
    'same text'. The LCS dynamic program runs as a row-local nested
    fold (outer over A, inner building each DP row over B with an
    integer list accumulator) — no UDF, no shuffle, bit-exact. Ref:
    reference sequence-similarity tests (cf. llm_dedup_editdist for
    the character-level cousin, llm_dedup_jaccard for the bag
    view)."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("l"),
        F.size(F.split(F.col("text"), " ")).alias("n"),
    ).filter((F.col("n") >= 10) & (F.col("n") <= 45))
    b = t.select(
        "doc_id",
        "l",
        "n",
        F.concat_ws(
            " ", F.element_at("l", 1), F.element_at("l", 2)
        ).alias("bucket"),
    )
    x = b.select(
        F.col("doc_id").alias("i"),
        F.col("l").alias("la"),
        F.col("n").alias("na"),
        "bucket",
    )
    y = b.select(
        F.col("doc_id").alias("j"),
        F.col("l").alias("lb"),
        F.col("n").alias("nb"),
        "bucket",
    )
    # pairs are few but each carries an O(n·m²) DP — spread them so
    # every core folds its share instead of one task folding them all
    pairs = (
        x.join(y, "bucket")
        .filter(F.col("i") < F.col("j"))
        .repartition(spark.sparkContext.defaultParallelism, "i", "j")
    )
    lb = F.col("lb")
    # per-token match vectors against lb: element type == DP-row type
    mvs = F.transform(
        F.col("la"),
        lambda a: F.transform(lb, lambda bt: F.when(bt == a, 1).otherwise(0)),
    )
    init_row = F.transform(F.sequence(F.lit(0), F.size(lb)), lambda _: F.lit(0))
    # dp[i][j] = max(dp[i-1][j], max_{k<=j}(dp[i-1][k-1] + m_ik)):
    # the prefix-max form — each new row is a pure transform of the
    # previous row, so the fold state stays one flat int array.
    lcs_row = F.aggregate(
        mvs,
        init_row,
        lambda acc, m: F.transform(
            F.sequence(F.lit(0), F.size(lb)),
            lambda j2: F.when(j2 == 0, F.lit(0)).otherwise(
                F.greatest(
                    F.element_at(acc, j2 + 1),
                    F.array_max(
                        F.transform(
                            F.sequence(F.lit(1), j2),
                            lambda k: F.element_at(acc, k) + F.element_at(m, k),
                        )
                    ),
                )
            ),
        ),
    )
    scored = pairs.select(
        "i",
        "j",
        F.col("na").cast("bigint").alias("na"),
        F.col("nb").cast("bigint").alias("nb"),
        F.element_at(lcs_row, F.size(lb) + 1).alias("lcs"),
    )
    return (
        scored.select(
            F.col("i").alias("doc_id_1"),
            F.col("j").alias("doc_id_2"),
            F.col("na").alias("len_1"),
            F.col("nb").alias("len_2"),
            F.col("lcs").cast("bigint").alias("lcs_len"),
            F.round(2.0 * F.col("lcs") / (F.col("na") + F.col("nb")), 6).alias(
                "rouge_l_f1"
            ),
        )
        .orderBy(F.desc("rouge_l_f1"), "doc_id_1", "doc_id_2")
        .limit(_RL_TOP)
    )


# --------------------------------------------------------------------------
# Does dedup preferentially remove low-quality docs?
# --------------------------------------------------------------------------
@query(
    "llm_quality_dedup_interaction",
    oracle="""
    WITH q AS (
      SELECT doc_id, md5(text) AS th,
             CASE WHEN len(list_distinct(string_split(text, ' ')))
                       * 2 >= len(string_split(text, ' '))
                  THEN 1 ELSE 0 END AS hi_q
      FROM documents
    ),
    d AS (
      SELECT th, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY th
    ),
    m AS (
      SELECT q.hi_q, CASE WHEN d.n >= 2 THEN 1 ELSE 0 END AS dup
      FROM q JOIN d ON q.th = d.th
    ),
    c AS (
      SELECT CAST(count(*) FILTER (hi_q = 1 AND dup = 1) AS DOUBLE) AS a,
             CAST(count(*) FILTER (hi_q = 1 AND dup = 0) AS DOUBLE) AS b,
             CAST(count(*) FILTER (hi_q = 0 AND dup = 1) AS DOUBLE) AS c,
             CAST(count(*) FILTER (hi_q = 0 AND dup = 0) AS DOUBLE) AS d
      FROM m
    )
    SELECT CAST(a AS BIGINT) AS hiq_dup, CAST(b AS BIGINT) AS hiq_uniq,
           CAST(c AS BIGINT) AS loq_dup, CAST(d AS BIGINT) AS loq_uniq,
           round((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)), 6)
             AS odds_ratio,
           round(ln((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5))), 6)
             AS log_or,
           round(sqrt(1 / (a + 0.5) + 1 / (b + 0.5)
                      + 1 / (c + 0.5) + 1 / (d + 0.5)), 6) AS se_log_or
    FROM c
    """,
)
def llm_quality_dedup_interaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality × duplication interaction: 2×2 of (high/low lexical
    quality — distinct-token ratio ≥ 0.5) against (duplicated/unique
    text), with the Haldane-corrected odds ratio and its SE. OR > 1
    means duplicates skew HIGH quality — dedup would bite the good
    tail, so dedup before quality-filter, not after; OR < 1 means
    dedup is free quality filtering. The interaction every curation
    pipeline should print before ordering its stages. Two rollups,
    integer counts → exact. Ref: reference curation-interaction
    tests (cf. llm_quality_filter, llm_dedup_keep_best)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    q = docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("th"),
        F.when(
            F.size(F.array_distinct(toks)) * 2 >= F.size(toks), 1
        ).otherwise(0).alias("hi_q"),
    )
    d = q.groupBy("th").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    m = q.join(d, "th").select(
        "hi_q", F.when(F.col("n") >= 2, 1).otherwise(0).alias("dup")
    )
    cnt = lambda hq, dp: F.sum(
        F.when((F.col("hi_q") == hq) & (F.col("dup") == dp), 1).otherwise(0)
    ).cast("double")
    c = m.agg(
        cnt(1, 1).alias("a"), cnt(1, 0).alias("b"),
        cnt(0, 1).alias("c"), cnt(0, 0).alias("d"),
    )
    a, bb, cc, dd = (F.col("a"), F.col("b"), F.col("c"), F.col("d"))
    orr = (a + 0.5) * (dd + 0.5) / ((bb + 0.5) * (cc + 0.5))
    return c.select(
        a.cast("bigint").alias("hiq_dup"),
        bb.cast("bigint").alias("hiq_uniq"),
        cc.cast("bigint").alias("loq_dup"),
        dd.cast("bigint").alias("loq_uniq"),
        F.round(orr, 6).alias("odds_ratio"),
        F.round(F.log(orr), 6).alias("log_or"),
        F.round(
            F.sqrt(
                1 / (a + 0.5) + 1 / (bb + 0.5) + 1 / (cc + 0.5) + 1 / (dd + 0.5)
            ),
            6,
        ).alias("se_log_or"),
    )


# --------------------------------------------------------------------------
# Partition volume anomaly: days whose row count breaks the baseline
# --------------------------------------------------------------------------
@query(
    "dq_partition_volume_anomaly",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS n
      FROM lineitem GROUP BY day
    ),
    w AS (
      SELECT day, n,
             row_number() OVER (ORDER BY day) AS rn,
             avg(n) OVER (ORDER BY day
                          ROWS BETWEEN {_VOL_W} PRECEDING AND 1 PRECEDING)
               AS mu,
             sum(n * n) OVER (ORDER BY day
                          ROWS BETWEEN {_VOL_W} PRECEDING AND 1 PRECEDING)
               AS sxx,
             sum(n) OVER (ORDER BY day
                          ROWS BETWEEN {_VOL_W} PRECEDING AND 1 PRECEDING)
               AS sx,
             CAST(count(*) OVER (ORDER BY day
                          ROWS BETWEEN {_VOL_W} PRECEDING AND 1 PRECEDING)
                  AS DOUBLE) AS wn
      FROM daily
    ),
    z AS (
      SELECT day, n, mu,
             (n - mu) / sqrt((sxx - sx * sx / wn) / (wn - 1)) AS zvol
      FROM w WHERE rn > {_VOL_W}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days_eval,
           CAST(sum(CASE WHEN abs(zvol) > 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomalies,
           CAST(sum(CASE WHEN zvol < -3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_volume_drops,
           floor(min(zvol) * 1000000 + 0.5) / 1000000 AS worst_drop_z,
           floor(max(zvol) * 1000000 + 0.5) / 1000000 AS worst_spike_z
    FROM z
    """,
)
def dq_partition_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-volume monitor: each day's row count scored against
    the TRAILING 28-day baseline (mean ± sample σ from windowed
    Σn/Σn², excluding the current day) — |z| > 3 flags a partition
    that arrived too small (upstream drop) or too large (duplicate
    load). THE first-line data-ops alarm: it catches 'yesterday's
    load silently halved' before any value-level check runs. One
    |days| rollup + one trailing window, integer sums → exact band
    edges. Ref: reference ingest-monitoring tests (cf. dq_freshness
    for the lateness axis, events_anomaly for value-level)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    wd = W.orderBy("day")
    wt = wd.rowsBetween(-_VOL_W, -1)
    w = daily.select(
        "day",
        "n",
        F.row_number().over(wd).alias("rn"),
        F.avg("n").over(wt).alias("mu"),
        F.sum(F.col("n") * F.col("n")).over(wt).alias("sxx"),
        F.sum("n").over(wt).alias("sx"),
        F.count(F.lit(1)).over(wt).cast("double").alias("wn"),
    )
    z = w.filter(F.col("rn") > _VOL_W).select(
        "day",
        (
            (F.col("n") - F.col("mu"))
            / F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("wn"))
                / (F.col("wn") - 1)
            )
        ).alias("zvol"),
    )
    return z.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days_eval"),
        F.sum(F.when(F.abs(F.col("zvol")) > 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_anomalies"),
        F.sum(F.when(F.col("zvol") < -3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_volume_drops"),
        q6(F.min("zvol")).alias("worst_drop_z"),
        q6(F.max("zvol")).alias("worst_spike_z"),
    )
