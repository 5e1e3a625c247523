"""Contract keys: ``llm_dedup_casefold``, ``sales_gross_to_net``,
``llm_source_exclusive_vocab``.

Normalization-ladder dedup, gross-to-net
revenue, and source-exclusive vocabulary.

Reference parity: the reference's dedup normalization policies, its
revenue adjustment waterfall, and its source-contribution analysis —
re-expressed as stacked hash-dedup counts, conditional sums, and a
single-source token rollup.

Scale notes:

- ``llm_dedup_casefold``: each normalization level is a distinct
  count over a row-local transform of the same scan — the ladder
  costs one aggregation, and the level-to-level deltas say which
  normalization actually buys duplicates.
- ``sales_gross_to_net``: the whole waterfall is one conditional
  aggregation per group.
- ``llm_source_exclusive_vocab``: tokens seen in exactly one source
  come from the (token → n_sources) rollup; the per-source
  exclusive counts are a second small rollup of it.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# Dedup normalization ladder: exact vs casefold vs alnum-only
# --------------------------------------------------------------------------
@query(
    "llm_dedup_casefold",
    oracle=r"""
    WITH n AS (
      SELECT text AS raw,
             lower(trim(text)) AS folded,
             regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS alnum
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) - count(DISTINCT raw) AS BIGINT) AS dups_exact,
           CAST(count(*) - count(DISTINCT folded) AS BIGINT) AS dups_casefold,
           CAST(count(*) - count(DISTINCT alnum) AS BIGINT) AS dups_alnum,
           CAST(count(DISTINCT raw) - count(DISTINCT folded) AS BIGINT)
             AS gained_by_casefold,
           CAST(count(DISTINCT folded) - count(DISTINCT alnum) AS BIGINT)
             AS gained_by_alnum
    FROM n
    """,
)
def llm_dedup_casefold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup normalization ladder measured: duplicates found at
    three escalating normalizations — exact bytes, casefold+trim,
    alphanumeric-only — and the MARGINAL duplicates each level buys.
    This is the table that decides a dedup pipeline's normalization
    policy: if casefolding gains nothing, don't pay for it; if
    alnum-stripping gains a lot, punctuation noise is your real
    problem. One aggregation over row-local transforms of a single
    scan. Ref: reference dedup-policy tests (cf. llm_dedup_exact,
    llm_dedup_keep_best)."""
    docs = table(spark, sf_dir, "documents")
    n = docs.select(
        F.col("text").alias("raw"),
        F.lower(F.trim(F.col("text"))).alias("folded"),
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "").alias(
            "alnum"
        ),
    )
    return n.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.count(F.lit(1)) - F.countDistinct("raw"))
        .cast("bigint")
        .alias("dups_exact"),
        (F.count(F.lit(1)) - F.countDistinct("folded"))
        .cast("bigint")
        .alias("dups_casefold"),
        (F.count(F.lit(1)) - F.countDistinct("alnum"))
        .cast("bigint")
        .alias("dups_alnum"),
        (F.countDistinct("raw") - F.countDistinct("folded"))
        .cast("bigint")
        .alias("gained_by_casefold"),
        (F.countDistinct("folded") - F.countDistinct("alnum"))
        .cast("bigint")
        .alias("gained_by_alnum"),
    )


# --------------------------------------------------------------------------
# Gross-to-net revenue waterfall per return flag
# --------------------------------------------------------------------------
@query(
    "sales_gross_to_net",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_extendedprice), 2) AS gross,
           round(sum(l_extendedprice * l_discount), 2) AS discount_given,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS net_of_discount,
           round(sum(l_extendedprice * (1 - l_discount) * l_tax), 2)
             AS tax_collected,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
             AS invoiced,
           round(sum(l_extendedprice * l_discount)
                 / sum(l_extendedprice), 6) AS effective_discount_rate
    FROM lineitem GROUP BY l_returnflag
    """,
)
def sales_gross_to_net(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gross-to-net revenue waterfall per return flag: gross listed
    revenue, discount given away, net of discount, tax collected,
    and the invoiced total — TPC-H Q1's quantities rearranged into
    the adjustment bridge a finance close reads, with the effective
    discount rate as the negotiation-health number. One conditional
    aggregation. Ref: reference revenue-waterfall tests (cf.
    sales_gmv_bridge, agg_groupby/Q1)."""
    li = table(spark, sf_dir, "lineitem")
    ep, d, t = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.round(F.sum(ep), 2).alias("gross"),
        F.round(F.sum(ep * d), 2).alias("discount_given"),
        F.round(F.sum(ep * (1 - d)), 2).alias("net_of_discount"),
        F.round(F.sum(ep * (1 - d) * t), 2).alias("tax_collected"),
        F.round(F.sum(ep * (1 - d) * (1 + t)), 2).alias("invoiced"),
        F.round(F.sum(ep * d) / F.sum(ep), 6).alias(
            "effective_discount_rate"
        ),
    )


# --------------------------------------------------------------------------
# Source-exclusive vocabulary: which sources add unique tokens?
# --------------------------------------------------------------------------
@query(
    "llm_source_exclusive_vocab",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT source, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    spread AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n_sources,
             min(source) AS only_source
      FROM tok GROUP BY token
    ),
    per_src AS (
      SELECT only_source AS source,
             CAST(count(*) AS BIGINT) AS exclusive_tokens
      FROM spread WHERE n_sources = 1 GROUP BY only_source
    ),
    vocab AS (
      SELECT source, CAST(count(*) AS BIGINT) AS vocab_size FROM tok
      GROUP BY source
    )
    SELECT vocab.source,
           vocab.vocab_size,
           coalesce(per_src.exclusive_tokens, 0) AS exclusive_tokens,
           round(CAST(coalesce(per_src.exclusive_tokens, 0) AS DOUBLE)
                 / vocab.vocab_size, 6) AS exclusive_share
    FROM vocab LEFT JOIN per_src ON vocab.source = per_src.source
    """,
)
def llm_source_exclusive_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal vocabulary contribution per source: how many token
    types appear in THAT source and nowhere else (and what share of
    its vocabulary that is) — the drop-this-source-and-lose-X signal
    that corpus pruning weighs against quality scores; a source with
    near-zero exclusive share is lexically redundant. One
    (source, token) distinct rollup; exclusives are the n_sources=1
    slice. Ref: reference source-contribution tests (cf.
    llm_cross_source_dups, train_quality_tradeoff)."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).distinct()
    spread = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        F.min("source").alias("only_source"),
    )
    per_src = (
        spread.filter(F.col("n_sources") == 1)
        .groupBy(F.col("only_source").alias("source"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("exclusive_tokens"))
    )
    vocab = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size")
    )
    return vocab.join(per_src, "source", "left").select(
        "source",
        "vocab_size",
        F.coalesce(F.col("exclusive_tokens"), F.lit(0)).alias(
            "exclusive_tokens"
        ),
        F.round(
            F.coalesce(F.col("exclusive_tokens"), F.lit(0)).cast("double")
            / F.col("vocab_size"),
            6,
        ).alias("exclusive_share"),
    )
