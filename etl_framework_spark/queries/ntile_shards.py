"""Contract keys: ``win_ntile_cume``, ``agg_median_shards``,
``train_truncation_loss``.

Ntile/cume_dist window surface, the
median-of-medians merge fallacy, and context-window truncation loss.

Reference parity: the reference's ranking-window functions, its
sharded-median caveat tests, and its sequence-length budget report —
re-expressed as window functions with total-order tie-breaks and
broadcast window-size explodes.

Scale notes:

- ``win_ntile_cume``: ntile/cume_dist need one per-group sort; the
  rollup emits |groups|x10 rows however large the fact table is.
  The deterministic (price, orderkey) total order makes ntile's
  bucket boundaries reproducible.
- ``agg_median_shards``: the ANTI-pattern contract: medians do NOT
  merge (they're not a monoid), so the median-of-shard-medians
  differs from the exact median — this key MEASURES that bias so
  the scale path (approx_percentile's mergeable sketch) is chosen
  knowingly, not by accident.
- ``train_truncation_loss``: three context-window budgets scored in
  ONE aggregation over the token-count rollup crossed with a
  broadcast window list; integer arithmetic end-to-end.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_NTILES = 10
_SHARDS = 8
_WINDOWS = [128, 256, 512]


# --------------------------------------------------------------------------
# ntile + cume_dist window surface
# --------------------------------------------------------------------------
@query(
    "win_ntile_cume",
    oracle=f"""
    WITH r AS (
      SELECT o_orderstatus AS st, o_totalprice AS price,
             ntile({_NTILES}) OVER (
               PARTITION BY o_orderstatus
               ORDER BY o_totalprice, o_orderkey) AS dec,
             cume_dist() OVER (
               PARTITION BY o_orderstatus ORDER BY o_totalprice) AS cd
      FROM orders
    )
    SELECT st AS o_orderstatus, CAST(dec AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(price), 2) AS min_price,
           round(max(price), 2) AS max_price,
           round(max(cd), 6) AS max_cume_dist
    FROM r GROUP BY st, dec
    """,
)
def win_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two ranking windows the rest of the suite hadn't touched:
    ntile(10) (equal-count buckets with the SQL-standard remainder-
    to-early-buckets rule) and cume_dist (fraction of peers at or
    below, ties sharing a value) over order price per status. The
    ntile ordering carries an orderkey tie-break so bucket boundaries
    are total-order deterministic; cume_dist deliberately orders by
    price alone to exercise its peer-group semantics. One per-group
    sort; the decile profile is |status|x10 rows. Ref: reference
    ranking-window tests (cf. win_rank)."""
    od = table(spark, sf_dir, "orders")
    w_nt = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    w_cd = W.partitionBy("o_orderstatus").orderBy("o_totalprice")
    r = od.select(
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("price"),
        F.ntile(_NTILES).over(w_nt).alias("dec"),
        F.cume_dist().over(w_cd).alias("cd"),
    )
    return r.groupBy(
        F.col("st").alias("o_orderstatus"), F.col("dec").cast("bigint").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.min("price"), 2).alias("min_price"),
        F.round(F.max("price"), 2).alias("max_price"),
        F.round(F.max("cd"), 6).alias("max_cume_dist"),
    )


# --------------------------------------------------------------------------
# Median-of-shard-medians vs the exact median (the merge fallacy)
# --------------------------------------------------------------------------
@query(
    "agg_median_shards",
    oracle=f"""
    WITH shard AS (
      SELECT l_returnflag AS f, l_suppkey % {_SHARDS} AS b,
             quantile_cont(l_extendedprice, 0.5) AS med
      FROM lineitem GROUP BY f, b
    ),
    mom AS (
      SELECT f, quantile_cont(med, 0.5) AS mom_median,
             CAST(count(*) AS BIGINT) AS n_shards
      FROM shard GROUP BY f
    ),
    exact AS (
      SELECT l_returnflag AS f, quantile_cont(l_extendedprice, 0.5)
               AS exact_median
      FROM lineitem GROUP BY f
    )
    SELECT mom.f AS l_returnflag, n_shards,
           round(exact_median, 6) AS exact_median,
           round(mom_median, 6) AS mom_median,
           round(abs(mom_median - exact_median), 6) AS abs_err,
           round(abs(mom_median - exact_median) / exact_median, 6)
             AS rel_err
    FROM mom JOIN exact ON mom.f = exact.f
    """,
)
def agg_median_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge FALLACY measured: medians are not a monoid, so the
    median of 8 shard medians is NOT the exact median — this key
    computes both and reports the bias, the number every reviewer
    should see before 'just averaging the shard p50s' at 100 TB. The
    honest mergeable alternatives are the approx_percentile sketch
    (agg_quantile_approx) or a full sort (agg_median); the counterpart
    contract for stats that DO merge exactly is agg_partial_merge.
    Ref: reference sharded-aggregate caveat tests."""
    li = table(spark, sf_dir, "lineitem")
    shard = li.groupBy(
        F.col("l_returnflag").alias("f"),
        (F.col("l_suppkey") % _SHARDS).alias("b"),
    ).agg(F.percentile("l_extendedprice", 0.5).alias("med"))
    mom = shard.groupBy("f").agg(
        F.percentile("med", 0.5).alias("mom_median"),
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
    )
    exact = li.groupBy(F.col("l_returnflag").alias("f")).agg(
        F.percentile("l_extendedprice", 0.5).alias("exact_median")
    )
    j = mom.join(exact, "f")
    err = F.abs(F.col("mom_median") - F.col("exact_median"))
    return j.select(
        F.col("f").alias("l_returnflag"),
        "n_shards",
        F.round("exact_median", 6).alias("exact_median"),
        F.round("mom_median", 6).alias("mom_median"),
        F.round(err, 6).alias("abs_err"),
        F.round(err / F.col("exact_median"), 6).alias("rel_err"),
    )


# --------------------------------------------------------------------------
# Context-window truncation loss at three budgets
# --------------------------------------------------------------------------
@query(
    "train_truncation_loss",
    oracle=f"""
    WITH toks AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    wins AS (SELECT unnest([{", ".join(str(w) for w in _WINDOWS)}])
               AS window_tokens)
    SELECT CAST(window_tokens AS BIGINT) AS window_tokens,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (n_tok > window_tokens) AS BIGINT)
             AS n_truncated,
           round(CAST(count(*) FILTER (n_tok > window_tokens) AS DOUBLE)
                 / count(*), 6) AS docs_truncated_share,
           CAST(sum(greatest(n_tok - window_tokens, 0)) AS BIGINT)
             AS tokens_lost,
           round(CAST(sum(greatest(n_tok - window_tokens, 0)) AS DOUBLE)
                 / sum(n_tok), 6) AS tokens_lost_share
    FROM toks CROSS JOIN wins GROUP BY window_tokens
    """,
)
def train_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window budget report: at 128/256/512-token windows,
    how many documents get truncated and what fraction of the
    corpus's tokens falls off the end — the number that decides
    between truncation, chunking (llm_chunk_windows), and packing
    (pack_sequences) for a training run. One aggregation over the
    token-count rollup crossed with the broadcast window list;
    integer arithmetic end-to-end. Ref: reference sequence-budget
    tests."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok")
    )
    wins = (
        spark.range(len(_WINDOWS))
        .select(
            F.element_at(
                F.array(*[F.lit(w) for w in _WINDOWS]), (F.col("id") + 1).cast("int")
            ).alias("window_tokens")
        )
    )
    j = toks.crossJoin(F.broadcast(wins))
    lost = F.greatest(F.col("n_tok") - F.col("window_tokens"), F.lit(0))
    trunc = F.col("n_tok") > F.col("window_tokens")
    return j.groupBy(F.col("window_tokens").cast("bigint").alias("window_tokens")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(F.when(trunc, 1)).cast("bigint").alias("n_truncated"),
        F.round(
            F.count(F.when(trunc, 1)).cast("double") / F.count(F.lit(1)), 6
        ).alias("docs_truncated_share"),
        F.sum(lost).cast("bigint").alias("tokens_lost"),
        F.round(F.sum(lost).cast("double") / F.sum("n_tok"), 6).alias(
            "tokens_lost_share"
        ),
    )
