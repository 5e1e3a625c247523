"""Contract keys: ``scan_partition_pruning``, ``llm_data_card``.

Partition-pruned scans and the corpus data card.

Scale notes:

- ``scan_partition_pruning``: the second storage-layout contract next
  to join_bucketed — facts written partitioned by day, and a dated
  query must show PartitionFilters in the scan (asserted in tests) so
  a 7-day query over a year of 100 TB reads 7/365ths of the files.
  Catalyst does this for free ONLY if the predicate is on the raw
  partition column; the key demonstrates the pattern that keeps it so.
- ``llm_data_card``: the one-row-per-source corpus report (docs,
  tokens, vocab, TTR, lang mix, exact-dup rate, length quantiles) —
  every column is a rollup the engine already proved elsewhere,
  joined on source; 5 partial-agg shuffles over one token explode and
  one doc scan, constant-size output.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import scratch_path, table
from etl_framework_spark.registry import query

_D0, _D1 = "2024-01-08", "2024-01-14"  # the 7-day query window


# --------------------------------------------------------------------------
# Partition pruning — dated facts, 7-day query reads 7 partitions
# --------------------------------------------------------------------------
@query(
    "scan_partition_pruning",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value), 6) AS sum_value
    FROM events
    WHERE strftime(date_trunc('day', ts), '%Y-%m-%d')
          BETWEEN '{_D0}' AND '{_D1}'
    GROUP BY day
    """,
)
def scan_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan: events written out partitioned by day
    (the standard fact layout), then a 7-day windowed aggregation
    whose filter sits on the RAW partition column — so Catalyst
    prunes at planning time and the scan's PartitionFilters read 7 of
    30 directories (asserted in tests/test_extras39.py, alongside the
    pushed-filter check). This is the layout contract that makes
    dashboard-range queries O(window), not O(history), at 100 TB.
    Results must equal the oracle computed on the unpartitioned
    original."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    out = scratch_path(f"part_events_{tag}")
    e = table(spark, sf_dir, "events")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            e.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(out)
        )
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("day").between(_D0, _D1))
        # partition discovery type-infers day as DATE; pin the contract
        # type to the string the oracle emits
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# Corpus data card — one row per source, the pre-training datasheet
# --------------------------------------------------------------------------
@query(
    "llm_data_card",
    oracle="""
    WITH docs AS (
      SELECT source, lang, n_chars, md5(text) AS h,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_toks
      FROM documents
    ),
    base AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS n_tokens,
             CAST(sum(n_chars) AS BIGINT) AS n_chars,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_exact_dups,
             round(median(n_chars), 6) AS p50_chars,
             round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
      FROM docs GROUP BY source
    ),
    langtop AS (
      SELECT source, lang AS top_lang FROM (
        SELECT source, lang,
               row_number() OVER (PARTITION BY source
                                  ORDER BY count(*) DESC, lang) AS rn
        FROM docs GROUP BY source, lang)
      WHERE rn = 1
    ),
    vocab AS (
      SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY source
    )
    SELECT b.source, b.n_docs, b.n_tokens, b.n_chars, b.n_langs,
           l.top_lang, v.vocab_size,
           round(CAST(v.vocab_size AS DOUBLE) / b.n_tokens, 6) AS ttr,
           round(CAST(b.n_exact_dups AS DOUBLE) / b.n_docs, 6)
             AS exact_dup_rate,
           b.p50_chars, b.p90_chars
    FROM base b
    JOIN langtop l ON l.source = b.source
    JOIN vocab v ON v.source = b.source
    """,
)
def llm_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source corpus DATA CARD — the one-page datasheet a
    training run reads before mixing sources: volume (docs, tokens,
    chars), language spread (count + dominant language), lexical
    diversity (vocab, type-token ratio), exact-duplicate rate
    (md5-identity), and length quantiles (exact order statistics).
    Every number is a rollup this engine certifies individually
    elsewhere; here they join on source into a constant-size report —
    one doc scan + one token explode, five partial-agg shuffles, all
    integer or exact-quantile arithmetic."""
    d = table(spark, sf_dir, "documents")
    docs = d.select(
        "source",
        "lang",
        "n_chars",
        F.md5("text").alias("h"),
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias(
            "n_toks"
        ),
    )
    base = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        (F.count("*") - F.countDistinct("h")).cast("bigint").alias(
            "n_exact_dups"
        ),
        F.round(F.median("n_chars"), 6).alias("p50_chars"),
        F.round(F.percentile("n_chars", 0.9), 6).alias("p90_chars"),
    )
    langtop = (
        docs.groupBy("source", "lang")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("source").orderBy(F.col("c").desc(), "lang")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    vocab = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("source")
        .agg(F.countDistinct("tok").cast("bigint").alias("vocab_size"))
    )
    return (
        base.join(langtop, "source")
        .join(vocab, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_langs",
            "top_lang",
            "vocab_size",
            F.round(
                F.col("vocab_size").cast("double") / F.col("n_tokens"), 6
            ).alias("ttr"),
            F.round(
                F.col("n_exact_dups").cast("double") / F.col("n_docs"), 6
            ).alias("exact_dup_rate"),
            "p50_chars",
            "p90_chars",
        )
    )
