"""Contract keys: ``diag_skew``, ``llm_dedup_incremental``,
``train_epoch_order``.

Operational / production-pipeline shapes — join-key
skew diagnostics, incremental (delta-vs-corpus) dedup, and deterministic
epoch-shuffle sharding.

Scale notes (the 100 TB rationale for each formulation):
- ``diag_skew``: the pre-flight check before any big join — per-key
  row counts vs the mean key load. One partial-agg shuffle on the key;
  the scalar mean broadcasts; output is top-10 at any scale. The
  skew_factor column is exactly the signal that decides between a
  plain shuffle join, AQE skew splitting, or `operators/skew.py`'s
  salted join.
- ``llm_dedup_incremental``: production dedup is INCREMENTAL — a
  day's delta lands and must be checked against the existing corpus
  without re-clustering 100 TB. One equi-join of the delta against
  the corpus hash set (Catalyst picks broadcast when the delta-day is
  small) + one window within the delta only. Corpus text never moves —
  only its 32-byte content hashes.
- ``train_epoch_order``: training wants a reproducible global
  permutation per epoch with NO global sort: shard by the first hex
  nibble of a seeded content hash (16 independent shards = data-loader
  workers), order within shard by the full hash. Each shard sorts
  independently — the "global shuffle" is embarrassingly parallel,
  and re-running any shard regenerates byte-identical order (no RNG).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_K = 2654435761
_MOD = 4294967296
_TRAIN_LT = 3865470566  # floor(0.9 * 2^32): <  → corpus, >= → delta


# --------------------------------------------------------------------------
# Ops — join-key skew diagnostic (the salted-join decision input)
# --------------------------------------------------------------------------
@query(
    "diag_skew",
    oracle="""
    WITH c AS (
      SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1
    ),
    s AS (SELECT avg(cnt) AS m FROM c)
    SELECT key, CAST(cnt AS BIGINT) AS cnt,
           round(cnt / m, 6) AS skew_factor
    FROM c, s
    ORDER BY cnt DESC, key
    LIMIT 10
    """,
)
def diag_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report for lineitem.l_suppkey: the 10 heaviest
    keys and their load relative to the mean key (skew_factor ~ 1 =
    uniform; >> 1 = salt or let AQE split). One partial-agg shuffle;
    the mean is a 1-row broadcast; TakeOrdered handles the top-10."""
    li = table(spark, sf_dir, "lineitem")
    c = li.groupBy(F.col("l_suppkey").alias("key")).agg(F.count("*").alias("cnt"))
    m = c.agg(F.avg("cnt").alias("m"))
    return (
        c.join(F.broadcast(m))
        .select(
            "key",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(F.col("cnt") / F.col("m"), 6).alias("skew_factor"),
        )
        .orderBy(F.col("cnt").desc(), "key")
        .limit(10)
    )


# --------------------------------------------------------------------------
# L2f — incremental dedup: today's delta against the standing corpus
# --------------------------------------------------------------------------
@query(
    "llm_dedup_incremental",
    oracle=rf"""
    WITH h AS (
      SELECT doc_id,
             sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS nh,
             ((doc_id % 1000000007) * {_K}) % {_MOD} >= {_TRAIN_LT} AS is_delta
      FROM documents
    ),
    corpus AS (SELECT DISTINCT nh FROM h WHERE NOT is_delta),
    delta AS (
      SELECT doc_id, nh,
             row_number() OVER (PARTITION BY nh ORDER BY doc_id) AS rn
      FROM h WHERE is_delta
    )
    SELECT d.doc_id,
           CASE WHEN c.nh IS NOT NULL THEN 'dup_of_corpus'
                WHEN d.rn > 1 THEN 'dup_within_batch'
                ELSE 'new' END AS status
    FROM delta d LEFT JOIN corpus c ON d.nh = c.nh
    """,
)
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape: a new batch (the 10%
    hash bucket stands in for today's delta) checked against the
    standing corpus. Corpus-side only DISTINCT content hashes move;
    the delta takes one equi-join (broadcast when the day is small)
    plus one window partitioned by hash WITHIN the delta for
    first-wins among same-batch duplicates. Priority: corpus dup >
    within-batch dup > new."""
    d = table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        F.sha2(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 256
        ).alias("nh"),
        (((F.col("doc_id") % 1000000007) * _K) % _MOD >= _TRAIN_LT).alias("is_delta"),
    )
    corpus = h.filter(~F.col("is_delta")).select("nh").distinct()
    delta = h.filter(F.col("is_delta")).withColumn(
        "rn", F.row_number().over(W.partitionBy("nh").orderBy("doc_id"))
    )
    joined = delta.join(
        corpus.withColumnRenamed("nh", "cnh"),
        delta["nh"] == F.col("cnh"),
        "left",
    )
    return joined.select(
        "doc_id",
        F.when(F.col("cnh").isNotNull(), "dup_of_corpus")
        .when(F.col("rn") > 1, "dup_within_batch")
        .otherwise("new")
        .alias("status"),
    )


# --------------------------------------------------------------------------
# Train — deterministic epoch-shuffle sharding (no RNG, no global sort)
# --------------------------------------------------------------------------
@query(
    "train_epoch_order",
    oracle="""
    WITH h AS (
      SELECT doc_id, md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS hk
      FROM documents
    )
    SELECT doc_id,
           substr(hk, 1, 1) AS shard,
           CAST(row_number() OVER (PARTITION BY substr(hk, 1, 1)
                                   ORDER BY hk, doc_id) AS BIGINT) AS pos
    FROM h
    """,
)
def train_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: order documents by a seeded content
    hash, sharded by the hash's first hex nibble into 16 independent
    data-loader shards. Each shard sorts only its own slice (no global
    window, no RNG) and re-running any shard reproduces its order
    byte-for-byte — the portable way to 'shuffle' 100 TB per epoch."""
    d = table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        F.md5(F.concat(F.lit("epoch1:"), F.col("doc_id").cast("string"))).alias(
            "hk"
        ),
    )
    shard = F.substring("hk", 1, 1)
    return h.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number()
        .over(W.partitionBy(shard).orderBy("hk", "doc_id"))
        .cast("bigint")
        .alias("pos"),
    )
