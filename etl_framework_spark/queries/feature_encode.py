"""Contract keys: ``feat_scale``, ``feat_index``, ``feat_hashing``.

ML feature-preparation operators — the transforms
between curated data and model input (scaling, categorical indexing,
hashing-trick diagnostics).

Scale notes:
- ``feat_scale``: per-group moments are one partial-agg shuffle on the
  group key; standardized/min-max values come from a broadcast-sized
  join-back (|groups| rows). Zero-variance groups yield NULL z-scores
  (NULLIF), not NaN poison.
- ``feat_index``: frequency-ordered label indexing (StringIndexer
  semantics with a deterministic alphabetical tiebreak). The window
  runs over the |labels|-sized aggregate, never the fact table.
- ``feat_hashing``: the hashing-trick health check — token vocabulary
  hashed into 256 buckets keyed by the first md5 hex pair; reports
  per-bucket vocabulary load and total frequency so collision hot
  spots are visible before committing to a feature dimension. The
  vocabulary aggregate is the only corpus-sized shuffle; the bucket
  rollup is 256 rows at any scale.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# ML prep — per-group standardization / min-max scaling
# --------------------------------------------------------------------------
@query(
    "feat_scale",
    oracle="""
    WITH m AS (
      SELECT p_brand,
             avg(p_retailprice) AS mu,
             stddev_samp(p_retailprice) AS sd,
             min(p_retailprice) AS mn,
             max(p_retailprice) AS mx
      FROM part GROUP BY p_brand
    )
    SELECT p_partkey, p.p_brand,
           round((p_retailprice - mu) / NULLIF(sd, 0), 6) AS z,
           round((p_retailprice - mn) / NULLIF(mx - mn, 0), 6) AS minmax
    FROM part p JOIN m ON p.p_brand = m.p_brand
    """,
)
def feat_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature scaling per categorical group (here: part price within
    brand): z-score (sample stddev) and min-max to [0, 1]. Group
    moments are one partial-agg shuffle; the |brands|-row moment table
    broadcasts back onto the facts. Zero-variance/zero-range groups
    produce NULL (NULLIF), matching the oracle exactly."""
    p = table(spark, sf_dir, "part")
    m = p.groupBy("p_brand").agg(
        F.avg("p_retailprice").alias("mu"),
        F.stddev_samp("p_retailprice").alias("sd"),
        F.min("p_retailprice").alias("mn"),
        F.max("p_retailprice").alias("mx"),
    )
    j = p.join(F.broadcast(m), "p_brand")
    return j.select(
        "p_partkey",
        "p_brand",
        F.round(
            (F.col("p_retailprice") - F.col("mu"))
            / F.nullif(F.col("sd"), F.lit(0)),
            6,
        ).alias("z"),
        F.round(
            (F.col("p_retailprice") - F.col("mn"))
            / F.nullif(F.col("mx") - F.col("mn"), F.lit(0)),
            6,
        ).alias("minmax"),
    )


# --------------------------------------------------------------------------
# ML prep — frequency-ordered categorical label indexing
# --------------------------------------------------------------------------
@query(
    "feat_index",
    oracle="""
    WITH c AS (
      SELECT p_type AS label, count(*) AS freq FROM part GROUP BY p_type
    )
    SELECT label, CAST(freq AS BIGINT) AS freq,
           CAST(row_number() OVER (ORDER BY freq DESC, label) - 1 AS BIGINT)
             AS idx
    FROM c
    """,
)
def feat_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical label indexing with StringIndexer semantics: most
    frequent label gets index 0, ties broken alphabetically — fully
    deterministic across engines/runs. The fact table contributes one
    partial-agg count; the global window orders only the |labels|-row
    aggregate (150 part types), never facts."""
    p = table(spark, sf_dir, "part")
    c = p.groupBy(F.col("p_type").alias("label")).agg(F.count("*").alias("freq"))
    w = W.orderBy(F.col("freq").desc(), "label")
    return c.select(
        "label",
        F.col("freq").cast("bigint").alias("freq"),
        (F.row_number().over(w) - 1).cast("bigint").alias("idx"),
    )


# --------------------------------------------------------------------------
# ML prep — hashing-trick bucket load / collision diagnostics
# --------------------------------------------------------------------------
@query(
    "feat_hashing",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
    hashed AS (
      SELECT substr(md5(token), 1, 2) AS bucket, token, freq FROM vocab
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(freq) AS BIGINT) AS total_freq,
           CAST(max(freq) AS BIGINT) AS max_token_freq
    FROM hashed GROUP BY bucket
    """,
)
def feat_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick diagnostics: the token vocabulary hashed into 256
    buckets (first md5 hex pair), reporting per-bucket vocabulary size,
    total token mass, and the heaviest colliding token — the report
    that sizes a hashed feature space before training. One vocabulary
    shuffle (partial-agg, uniform md5 keys); the bucket rollup is
    256 rows regardless of corpus size."""
    d = table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    hashed = vocab.select(
        F.substring(F.md5("token"), 1, 2).alias("bucket"), "freq"
    )
    return hashed.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum("freq").cast("bigint").alias("total_freq"),
        F.max("freq").cast("bigint").alias("max_token_freq"),
    )
