"""Contract keys: ``join_range_bucketed``.

The bucketed band join — SURVEY §2.3 J7's
documented scale path, as a result-invariant operator.

A band join (fact value BETWEEN band.lo AND band.hi) planned naively
is a broadcast nested-loop: every fact row tests every band. That is
fine for tens of bands and fatal for millions. The scale path
quantizes the value domain into fixed-width buckets: each band
explodes to the few buckets it covers, each fact row belongs to
exactly ONE bucket, and the join becomes an ordinary equi-join on the
bucket id followed by the exact BETWEEN re-check — candidates are
bucket-local, a fact row meets only the bands overlapping its bucket,
and because a fact row has a single bucket no (row, band) pair can
match twice, so no dedup is needed. The ORACLE IS THE PLAIN BAND JOIN
(optimization invisibility, like join_salted / join_bloom_prefilter).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_N_BANDS = 40
_BAND_STEP = 4000  # band b covers [b*step, b*step + width)
_BAND_WIDTH = 6000  # overlapping bands: width > step
_BUCKET = 2000  # quantization width; must divide step and width


@query(
    "join_range_bucketed",
    oracle=f"""
    WITH bands AS (
      SELECT b AS band_id,
             CAST(b * {_BAND_STEP} AS DOUBLE) AS lo,
             CAST(b * {_BAND_STEP} + {_BAND_WIDTH} AS DOUBLE) AS hi
      FROM (SELECT unnest(generate_series(0, {_N_BANDS - 1})) AS b)
    )
    SELECT band_id,
           CAST(count(*) AS BIGINT) AS n_orders,
           sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
    FROM bands b
    JOIN orders o ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY band_id
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed band join (J7's 100 TB path, result-invariant): 40
    overlapping price bands are exploded to their covering buckets
    (width 2000 — each band touches 3 buckets), each order maps to
    its single bucket, and the band membership becomes an EQUI-join
    on bucket id + the exact BETWEEN re-check. The oracle is the
    plain non-equi band join, so the rewrite must be invisible.
    Candidates per order = bands overlapping one bucket (≤ 3 here)
    instead of all 40 — at a million bands the naive form is a
    nested-loop disaster and this form stays an ordinary shuffle
    join on a uniform integer key. Revenue in exact DECIMAL."""
    orders = table(spark, sf_dir, "orders")
    bands = spark.range(_N_BANDS).select(
        F.col("id").cast("int").alias("band_id"),
        (F.col("id") * _BAND_STEP).cast("double").alias("lo"),
        (F.col("id") * _BAND_STEP + _BAND_WIDTH).cast("double").alias("hi"),
    )
    # explode each band to the buckets it covers: [lo/B .. (hi-1)/B]
    bexp = bands.select(
        "band_id",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                (F.col("lo") / _BUCKET).cast("long"),
                ((F.col("hi") - 1) / _BUCKET).cast("long"),
            )
        ).alias("bucket"),
    )
    fact = orders.select(
        "o_totalprice",
        F.floor(F.col("o_totalprice") / _BUCKET).cast("long").alias("bucket"),
    )
    joined = fact.join(F.broadcast(bexp), "bucket").filter(
        (F.col("o_totalprice") >= F.col("lo"))
        & (F.col("o_totalprice") < F.col("hi"))
    )
    return joined.groupBy("band_id").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
    )
