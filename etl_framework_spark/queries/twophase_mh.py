"""Contract keys: ``topk_two_phase``, ``stats_mantel_haenszel``,
``llm_charclass_profile``.

Two-phase top-k, Mantel-Haenszel pooling, and
character-class corpus profiling.

Reference parity: the reference's distributed top-k merge, its
stratified 2x2 combiner, and its charset-profile filter —
re-expressed as a partial-topk union + re-rank, conditional rollup
closed forms, and regex strip-length arithmetic.

Scale notes:

- ``topk_two_phase``: the EXPLICIT version of what
  TakeOrderedAndProject does — each shard keeps only its local
  top-k, the merge re-ranks k·shards rows. Correct because global
  top-k ⊆ union of shard top-ks; the contract key proves partial ==
  direct. At 100 TB this is the difference between shuffling k·1000
  rows and sorting 10¹¹.
- ``stats_mantel_haenszel``: all per-stratum 2x2 cells come from ONE
  conditional aggregation keyed by stratum; the MH pooled odds ratio
  is two weighted sums over the 5-row rollup.
- ``llm_charclass_profile``: pure row-local regex strip-length
  arithmetic (no explode, no shuffle except the per-lang rollup) —
  the cheap charset filter that runs before any tokenizer.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_TOPK = 10
_SHARDS = 16
_BIG = 150000.0


# --------------------------------------------------------------------------
# Two-phase (shard-local then merge) top-k contract
# --------------------------------------------------------------------------
@query(
    "topk_two_phase",
    oracle=f"""
    SELECT CAST(row_number() OVER (
             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
           AS BIGINT) AS rank,
           l_orderkey, l_linenumber,
           round(l_extendedprice, 2) AS l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT {_TOPK}
    """,
)
def topk_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 line items by price computed the DISTRIBUTED
    way, explicitly: phase 1 keeps each of 16 shards' local top-10
    (per-shard window group-limit — no global sort), phase 2
    re-ranks the ≤160 survivors. Sound because the
    global top-k is a subset of the union of shard top-ks; the
    oracle's direct ORDER BY/LIMIT must match exactly, tie-breaks
    included. This is TakeOrderedAndProject's contract written out —
    at scale you shuffle k·shards rows, never the table. Ref:
    reference distributed-topk tests (cf. topk, win_topk_group)."""
    li = table(spark, sf_dir, "lineitem")
    # sort key: ascending on (-price, orderkey, linenumber) == the
    # oracle's DESC price with ascending tie-breaks
    keyed = li.select(
        (-F.col("l_extendedprice")).alias("negp"),
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        (F.col("l_suppkey") % _SHARDS).alias("shard"),
    )
    # r11 optimization (guide section 5, per-task state): phase 1 was
    # a collect_list of the ENTIRE shard into one aggregation buffer +
    # array_sort + slice — unbounded per-shard memory (at 100 TB that
    # is an OOM, not a slowdown) and an O(n log n) single-threaded
    # sort per shard. The same local top-k as a per-shard row_number
    # window compiles to a PARTIAL WindowGroupLimit (Spark 3.5+)
    # below the shard exchange: only ~k rows per (task, shard) ever
    # shuffle and no unbounded buffer exists (the map side still
    # sorts its partition locally — WindowGroupLimit consumes sorted
    # input — so wall time at sf0.1 is neutral, 1.33 s -> 1.35 s;
    # the change buys the bounded-memory contract, not local-mode
    # seconds). Value-identical, oracle-exact at both SFs.
    from pyspark.sql import Window as _W

    wsh = _W.partitionBy("shard").orderBy(
        "negp", "l_orderkey", "l_linenumber"
    )
    cand = (
        keyed.withColumn("rn", F.row_number().over(wsh))
        .filter(F.col("rn") <= _TOPK)
        .select("negp", "l_orderkey", "l_linenumber", "l_extendedprice")
    )
    merged = cand.orderBy("negp", "l_orderkey", "l_linenumber").limit(_TOPK)
    from pyspark.sql import Window as W

    return merged.select(
        F.row_number()
        .over(W.partitionBy().orderBy("negp", "l_orderkey", "l_linenumber"))
        .cast("bigint")
        .alias("rank"),
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("l_extendedprice"),
    )


# --------------------------------------------------------------------------
# Mantel-Haenszel pooled odds ratio across priority strata
# --------------------------------------------------------------------------
@query(
    "stats_mantel_haenszel",
    oracle=f"""
    WITH s AS (
      SELECT o_orderpriority AS stratum,
             CAST(count(*) FILTER (o_totalprice > {_BIG}
                                   AND o_orderstatus = 'F') AS DOUBLE) AS a,
             CAST(count(*) FILTER (o_totalprice > {_BIG}
                                   AND o_orderstatus <> 'F') AS DOUBLE) AS b,
             CAST(count(*) FILTER (o_totalprice <= {_BIG}
                                   AND o_orderstatus = 'F') AS DOUBLE) AS c,
             CAST(count(*) FILTER (o_totalprice <= {_BIG}
                                   AND o_orderstatus <> 'F') AS DOUBLE) AS d
      FROM orders GROUP BY stratum
    ),
    mh AS (
      SELECT CAST(count(*) AS BIGINT) AS n_strata,
             sum(a * d / (a + b + c + d)) AS num,
             sum(b * c / (a + b + c + d)) AS den,
             sum(a) AS ta, sum(b) AS tb, sum(c) AS tc, sum(d) AS td
      FROM s
    )
    SELECT n_strata,
           round(num / den, 6) AS or_mh,
           round(ln(num / den), 6) AS log_or_mh,
           round((ta * td) / (tb * tc), 6) AS or_crude,
           round((ta * td) / (tb * tc) - num / den, 6) AS crude_minus_mh
    FROM mh
    """,
)
def stats_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio of (big order → finalized
    status) stratified by order priority: OR_MH = Σ(a·d/n)/Σ(b·c/n)
    pools the per-stratum 2x2 tables WITHOUT the confounding that the
    crude (collapsed) OR absorbs — the 2x2 counterpart of the
    Simpson's-paradox audit (stats_simpsons), and the difference
    crude−MH quantifies the confounding directly. All cells come
    from ONE conditional aggregation keyed by stratum; the pooling
    is two weighted sums over 5 rows. Ref: reference stratified-2x2
    tests."""
    od = table(spark, sf_dir, "orders")
    exp_ = F.col("o_totalprice") > _BIG
    out = F.col("o_orderstatus") == "F"
    s = od.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count(F.when(exp_ & out, 1)).cast("double").alias("a"),
        F.count(F.when(exp_ & ~out, 1)).cast("double").alias("b"),
        F.count(F.when(~exp_ & out, 1)).cast("double").alias("c"),
        F.count(F.when(~exp_ & ~out, 1)).cast("double").alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    mh = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum(F.col("a") * F.col("d") / n).alias("num"),
        F.sum(F.col("b") * F.col("c") / n).alias("den"),
        F.sum("a").alias("ta"),
        F.sum("b").alias("tb"),
        F.sum("c").alias("tc"),
        F.sum("d").alias("td"),
    )
    or_mh = F.col("num") / F.col("den")
    or_crude = (F.col("ta") * F.col("td")) / (F.col("tb") * F.col("tc"))
    return mh.select(
        "n_strata",
        F.round(or_mh, 6).alias("or_mh"),
        F.round(F.log(or_mh), 6).alias("log_or_mh"),
        F.round(or_crude, 6).alias("or_crude"),
        F.round(or_crude - or_mh, 6).alias("crude_minus_mh"),
    )


# --------------------------------------------------------------------------
# Character-class profile of the corpus, per language
# --------------------------------------------------------------------------
@query(
    "llm_charclass_profile",
    oracle=r"""
    WITH c AS (
      SELECT lang,
             CAST(length(text) AS DOUBLE) AS n,
             CAST(length(text)
                  - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))
               AS DOUBLE) AS n_alpha,
             CAST(length(text)
                  - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS DOUBLE) AS n_digit,
             CAST(length(text)
                  - length(regexp_replace(text, '[ ]', '', 'g'))
               AS DOUBLE) AS n_space,
             CAST(length(text)
                  - length(regexp_replace(text, '[A-Z]', '', 'g'))
               AS DOUBLE) AS n_upper
      FROM documents WHERE length(text) > 0
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(sum(n_alpha) / sum(n), 6) AS alpha_share,
           round(sum(n_digit) / sum(n), 6) AS digit_share,
           round(sum(n_space) / sum(n), 6) AS space_share,
           round(sum((n - n_alpha - n_digit - n_space)) / sum(n), 6)
             AS other_share,
           round(sum(n_upper) / sum(n), 6) AS upper_share
    FROM c GROUP BY lang
    """,
)
def llm_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per language — letter / digit /
    space / other shares plus uppercase rate — the pre-tokenizer
    charset audit that catches markup blobs, number dumps, and
    shouting corpora before they poison a training mix. Class counts
    come from strip-length arithmetic (len − len(regex-stripped)),
    which is pure row-local JVM regex work; the only shuffle is the
    per-language rollup. Integer counts → exact shares. Ref:
    reference charset-filter tests (cf. llm_char_entropy,
    llm_text_stats)."""
    docs = table(spark, sf_dir, "documents").filter(F.length("text") > 0)

    def stripped(pat: str):
        return (
            F.length("text") - F.length(F.regexp_replace("text", pat, ""))
        ).cast("double")

    c = docs.select(
        "lang",
        F.length("text").cast("double").alias("n"),
        stripped("[a-zA-Z]").alias("n_alpha"),
        stripped("[0-9]").alias("n_digit"),
        stripped("[ ]").alias("n_space"),
        stripped("[A-Z]").alias("n_upper"),
    )
    return c.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.sum("n_alpha") / F.sum("n"), 6).alias("alpha_share"),
        F.round(F.sum("n_digit") / F.sum("n"), 6).alias("digit_share"),
        F.round(F.sum("n_space") / F.sum("n"), 6).alias("space_share"),
        F.round(
            F.sum(
                F.col("n") - F.col("n_alpha") - F.col("n_digit") - F.col("n_space")
            )
            / F.sum("n"),
            6,
        ).alias("other_share"),
        F.round(F.sum("n_upper") / F.sum("n"), 6).alias("upper_share"),
    )
