"""Contract keys: ``events_adstock_fit``, ``llm_topic_coherence``,
``ts_haar_energy``.

Adstock decay fit, UMass topic coherence, and
Haar wavelet energy decomposition.

Reference parity: the reference's marketing-response transform, its
topic-quality scorer, and its multi-scale energy probe —
re-expressed as per-decay EWMA folds, doc-co-occurrence log sums,
and block-mean difference rollups.

Scale notes:

- ``events_adstock_fit``: three decay candidates share ONE |days|
  rollup; each adstock is a scalar fold, the correlation a closed
  form.
- ``llm_topic_coherence``: doc-frequency and pair-co-occurrence
  come from the (token → doc set) rollup, pairs only among the
  top-5 tokens per source.
- ``ts_haar_energy``: level-j coefficients are block rollups of the
  |days| series (group by day_index >> j) — four shrinking passes.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_DECAYS = [0.3, 0.5, 0.7]
_TC_TOP = 5  # tokens per source pseudo-topic


# --------------------------------------------------------------------------
# Adstock: which carryover decay best explains purchases?
# --------------------------------------------------------------------------
def _adstock_oracle() -> str:
    branches = []
    for d in _DECAYS:
        branches.append(
            f"""
    SELECT {d} AS decay,
           (SELECT floor((sum(ad * py) - sum(ad) * sum(py) / count(*))
                   / sqrt((sum(ad * ad) - sum(ad) * sum(ad) / count(*))
                          * (sum(py * py) - sum(py) * sum(py) / count(*)))
                   * 1000000 + 0.5) / 1000000
            FROM (
              SELECT unnest(adl) AS ad, unnest(pyl) AS py FROM folded_{int(d * 10)}
            )) AS corr_with_purchases"""
        )
    folded = []
    for d in _DECAYS:
        folded.append(
            f"""
    folded_{int(d * 10)} AS (
      SELECT list_transform(
               list_reduce(
                 list_transform(clicks, x -> [x]),
                 (acc, x) -> list_append(acc,
                   x[1] + {d} * acc[len(acc)])),
               v -> v) AS adl,
             purch AS pyl
      FROM arrs
    )"""
        )
    return (
        """
    WITH daily AS (
      SELECT CAST(date_trunc('day', date_trunc('second', ts)) AS DATE)
               AS day,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS clicks,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS purchases
      FROM events GROUP BY day
    ),
    arrs AS (
      SELECT list(clicks ORDER BY day) AS clicks,
             list(purchases ORDER BY day) AS purch
      FROM daily
    ),
    """
        + ",".join(folded)
        + " SELECT * FROM ("
        + " UNION ALL ".join(branches)
        + ") ORDER BY decay"
    )


@query("events_adstock_fit", oracle=_adstock_oracle())
def events_adstock_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adstock decay selection: daily clicks transformed by the
    geometric carryover a_t = x_t + λ·a_{t−1} for λ ∈ {0.3, 0.5,
    0.7}, each scored by Pearson correlation with same-day purchase
    counts — the one-table answer to 'how long does ad exposure
    keep working'. One |days| rollup feeds all three folds (scalar
    list folds, first-element init); correlations are closed forms
    over the folded arrays. On A/A-style synthetic traffic the
    three correlations must be statistically indistinguishable —
    the null check. Ref: reference marketing-response tests (cf.
    events_attribution for credit assignment, ts_ewma_irregular for
    the fold family)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.date_trunc("second", F.col("ts")))
        .cast("date")
        .alias("day")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("clicks"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("purchases"),
    )
    arrs = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "clicks"))).alias("cv"),
        F.array_sort(F.collect_list(F.struct("day", "purchases"))).alias("pv"),
    ).select(F.col("cv.clicks").alias("clicks"), F.col("pv.purchases").alias("purch"))
    outs = []
    for d in _DECAYS:
        lam = F.lit(d)
        # adstock fold producing the full trajectory: fold over
        # singleton-wrapped clicks, appending x + lam * last
        ad = F.aggregate(
            F.transform(F.col("clicks"), lambda x: F.array(x)),
            F.array().cast("array<double>"),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.element_at(x, 1)
                    + F.when(F.size(acc) > 0, lam * F.element_at(acc, F.size(acc))).otherwise(F.lit(0.0))
                ),
            ),
        )
        z = arrs.select(
            F.lit(d).alias("decay"),
            F.explode(F.arrays_zip(ad.alias("ad"), F.col("purch").alias("py"))).alias(
                "z"
            ),
        ).select("decay", F.col("z.ad").alias("ad"), F.col("z.py").alias("py"))
        n = F.count(F.lit(1)).cast("double")
        corr = (
            F.sum(F.col("ad") * F.col("py")) - F.sum("ad") * F.sum("py") / n
        ) / F.sqrt(
            (F.sum(F.col("ad") * F.col("ad")) - F.sum("ad") * F.sum("ad") / n)
            * (F.sum(F.col("py") * F.col("py")) - F.sum("py") * F.sum("py") / n)
        )
        outs.append(
            z.groupBy("decay").agg(
                (F.floor(corr * 1000000.0 + 0.5) / 1000000.0).alias(
                    "corr_with_purchases"
                )
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("decay")


# --------------------------------------------------------------------------
# UMass topic coherence of per-source top-token pseudo-topics
# --------------------------------------------------------------------------
@query(
    "llm_topic_coherence",
    oracle=f"""
    WITH dt AS (
      SELECT DISTINCT source, doc_id,
             unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ),
    tf AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS df
      FROM dt GROUP BY source, tok
    ),
    top AS (
      SELECT source, tok, df,
             row_number() OVER (PARTITION BY source
                                ORDER BY df DESC, tok) AS rk
      FROM tf
    ),
    topk AS (SELECT source, tok, df FROM top WHERE rk <= {_TC_TOP}),
    pairs AS (
      SELECT a.source, a.tok AS wi, b.tok AS wj, b.df AS dfj
      FROM topk a JOIN topk b
        ON a.source = b.source AND a.tok < b.tok
    ),
    co AS (
      SELECT p.source, p.wi, p.wj, p.dfj,
             CAST(count(*) AS BIGINT) AS dij
      FROM pairs p
      JOIN dt x ON x.source = p.source AND x.tok = p.wi
      JOIN dt y ON y.source = p.source AND y.tok = p.wj
               AND y.doc_id = x.doc_id
      GROUP BY p.source, p.wi, p.wj, p.dfj
    ),
    sc AS (
      SELECT p.source,
             sum(ln((coalesce(co.dij, 0) + 1.0) / p.dfj)) AS coh,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs p
      LEFT JOIN co ON co.source = p.source AND co.wi = p.wi
                  AND co.wj = p.wj
      GROUP BY p.source
    )
    SELECT source,
           floor(coh * 1000000 + 0.5) / 1000000 AS umass_coherence,
           n_pairs
    FROM sc ORDER BY source
    """,
)
def llm_topic_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UMass topic coherence of each source's top-5-by-document-
    frequency token set: Σ_{i<j} ln((D(w_i,w_j)+1)/D(w_j)) — do the
    tokens that CHARACTERIZE a source actually co-occur in its
    documents, or is the 'topic' an artifact of marginal counts?
    The standard intrinsic score for topic/cluster labels, computed
    straight from the (source, token → doc set) rollup with pair
    joins only among 5 tokens per source. Integer counts →
    deterministic logs. Ref: reference topic-quality tests (cf.
    llm_pmi for the global pair view, llm_distinctive_ngrams for
    the contrastive one)."""
    docs = table(spark, sf_dir, "documents")
    dt = docs.select(
        "source",
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok"),
    ).distinct()
    tf = dt.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    top = tf.select(
        "source",
        "tok",
        "df",
        F.row_number()
        .over(W.partitionBy("source").orderBy(F.desc("df"), "tok"))
        .alias("rk"),
    ).filter(F.col("rk") <= _TC_TOP)
    a = top.select("source", F.col("tok").alias("wi"))
    b = top.select("source", F.col("tok").alias("wj"), F.col("df").alias("dfj"))
    pairs = a.join(b, "source").filter(F.col("wi") < F.col("wj"))
    x = dt.select("source", F.col("tok").alias("wi"), F.col("doc_id").alias("dx"))
    y = dt.select("source", F.col("tok").alias("wj"), F.col("doc_id").alias("dy"))
    co = (
        pairs.join(x, ["source", "wi"])
        .join(y.withColumnRenamed("dy", "dx"), ["source", "wj", "dx"])
        .groupBy("source", "wi", "wj", "dfj")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dij"))
    )
    sc = (
        pairs.join(co, ["source", "wi", "wj", "dfj"], "left")
        .groupBy("source")
        .agg(
            F.sum(
                F.log(
                    (F.coalesce(F.col("dij"), F.lit(0)) + 1.0) / F.col("dfj")
                )
            ).alias("coh"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    return sc.select(
        "source",
        (F.floor(F.col("coh") * 1000000.0 + 0.5) / 1000000.0).alias(
            "umass_coherence"
        ),
        "n_pairs",
    ).orderBy("source")


# --------------------------------------------------------------------------
# Haar wavelet energy of the daily demand series by scale
# --------------------------------------------------------------------------
@query(
    "ts_haar_energy",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
               AS t,
             CAST(sum(l_quantity) AS DOUBLE) AS x
      FROM lineitem GROUP BY t
    ),
    lv AS (SELECT unnest([1, 2, 3, 4]) AS level),
    blocks AS (
      SELECT lv.level,
             CAST(floor(d.t / pow(2, lv.level)) AS BIGINT) AS blk,
             CASE WHEN CAST(floor(d.t / pow(2, lv.level - 1)) AS BIGINT) % 2
                       = 0 THEN d.x ELSE NULL END AS left_x,
             CASE WHEN CAST(floor(d.t / pow(2, lv.level - 1)) AS BIGINT) % 2
                       = 1 THEN d.x ELSE NULL END AS right_x
      FROM daily d CROSS JOIN lv
    ),
    coef AS (
      SELECT level, blk,
             avg(left_x) - avg(right_x) AS det,
             CAST(count(left_x) AS BIGINT) AS nl,
             CAST(count(right_x) AS BIGINT) AS nr
      FROM blocks GROUP BY level, blk
      HAVING count(left_x) > 0 AND count(right_x) > 0
    ),
    en AS (
      SELECT level, sum(det * det) AS energy,
             CAST(count(*) AS BIGINT) AS n_blocks
      FROM coef GROUP BY level
    ),
    tot AS (SELECT sum(energy) AS te FROM en)
    SELECT en.level, en.n_blocks,
           floor(en.energy * 10000 + 0.5) / 10000 AS energy,
           floor(en.energy / tot.te * 1000000 + 0.5) / 1000000
             AS energy_share
    FROM en CROSS JOIN tot ORDER BY en.level
    """,
)
def ts_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar-style multi-scale energy of daily demand: at level j,
    the detail coefficient of each 2^j-day block is (mean of first
    half − mean of second half); energy per level and its share
    localize WHERE the variance lives in time-scale (level 1 ≈
    2-day noise, level 4 ≈ biweekly swings) — the wavelet complement
    of ts_spectral_entropy's frequency view. Four shrinking block
    rollups of the |days| series; integer sums → deterministic
    means. Ref: reference multi-scale tests (cf. ts_m4_downsample
    for the rendering twin)."""
    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("t")
    ).agg(F.sum("l_quantity").cast("double").alias("x"))
    lv = spark.range(1, 5).select(F.col("id").alias("level"))
    blocks = daily.crossJoin(F.broadcast(lv)).select(
        "level",
        F.floor(F.col("t") / F.pow(F.lit(2.0), F.col("level"))).cast("bigint").alias(
            "blk"
        ),
        F.when(
            F.floor(F.col("t") / F.pow(F.lit(2.0), F.col("level") - 1)).cast(
                "bigint"
            )
            % 2
            == 0,
            F.col("x"),
        ).alias("left_x"),
        F.when(
            F.floor(F.col("t") / F.pow(F.lit(2.0), F.col("level") - 1)).cast(
                "bigint"
            )
            % 2
            == 1,
            F.col("x"),
        ).alias("right_x"),
    )
    coef = (
        blocks.groupBy("level", "blk")
        .agg(
            (F.avg("left_x") - F.avg("right_x")).alias("det"),
            F.count("left_x").alias("nl"),
            F.count("right_x").alias("nr"),
        )
        .filter((F.col("nl") > 0) & (F.col("nr") > 0))
    )
    en = coef.groupBy("level").agg(
        F.sum(F.col("det") * F.col("det")).alias("energy"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
    )
    tot = en.agg(F.sum("energy").alias("te"))
    j = en.crossJoin(F.broadcast(tot))
    return j.select(
        "level",
        "n_blocks",
        (F.floor(F.col("energy") * 10000.0 + 0.5) / 10000.0).alias("energy"),
        (
            F.floor(F.col("energy") / F.col("te") * 1000000.0 + 0.5) / 1000000.0
        ).alias("energy_share"),
    ).orderBy("level")
