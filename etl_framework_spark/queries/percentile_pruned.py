"""Contract keys: ``agg_percentile_disc``, ``join_partition_pruned_dim``.

Discrete percentiles by window selection, and
dynamic partition pruning.

Scale notes:

- ``agg_percentile_disc``: PERCENTILE_DISC has no Spark builtin; the
  scalable formulation is rank-selection — one sort-shuffle per
  group, pick the row at ⌊(n−1)p⌋+1 — which returns an ACTUAL
  observed value (quantile_cont interpolates synthetic ones). Both
  engines run the identical explicit selection, so no builtin
  definition mismatch can bite.
- ``join_partition_pruned_dim``: the runtime sibling of
  scan_partition_pruning — the fact's partition filter comes from a
  DIMENSION's selective predicate via dynamic partition pruning
  (plan-asserted `dynamicpruning` subquery in the scan). At 100 TB
  this is what makes star joins read only the partitions the dim
  actually selects, without anyone hand-writing the date list.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import scratch_path, table
from etl_framework_spark.registry import query

_PS = (0.25, 0.5, 0.75, 0.9)


# --------------------------------------------------------------------------
# PERCENTILE_DISC — exact order-statistic selection, no interpolation
# --------------------------------------------------------------------------
def _duck_disc() -> str:
    sel = ", ".join(
        f"round(min(v) FILTER (rn = CAST(floor((n - 1) * {p}) AS BIGINT) + 1), 6)"
        f" AS p{int(p * 100)}" for p in _PS
    )
    return f"""
    WITH r AS (
      SELECT event_type, value AS v,
             row_number() OVER (PARTITION BY event_type ORDER BY value)
               AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n, {sel}
    FROM r GROUP BY event_type
    """


@query("agg_percentile_disc", oracle=_duck_disc())
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_DISC(p) of event value per type — the discrete
    quantile that returns an ACTUAL observed value (a real latency, a
    real order size), where quantile_cont interpolates numbers no row
    ever had; the difference matters whenever the quantile feeds an
    example lookup or a rerun filter. Spark has no builtin, so the
    key IS the scalable formulation: rank every row in its group (one
    sort-shuffle), select rank ⌊(n−1)p⌋+1 — and the oracle executes
    the IDENTICAL explicit selection, making the definition itself
    part of the contract (builtin quantile_disc definitions differ
    across engines; an explicit window cannot)."""
    e = table(spark, sf_dir, "events")
    r = e.select(
        "event_type",
        F.col("value").alias("v"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("value"))
        .alias("rn"),
        F.count("*").over(W.partitionBy("event_type")).alias("n"),
    )
    sels = [
        F.round(
            F.min(
                F.when(
                    F.col("rn")
                    == F.floor((F.col("n") - 1) * p).cast("bigint") + 1,
                    F.col("v"),
                )
            ),
            6,
        ).alias(f"p{int(p * 100)}")
        for p in _PS
    ]
    return r.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"), *sels
    )


# --------------------------------------------------------------------------
# Dynamic partition pruning — the dim's filter prunes the fact scan
# --------------------------------------------------------------------------
@query(
    "join_partition_pruned_dim",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
      FROM events
      WHERE isodow(date_trunc('day', ts)) = 1
    )
    SELECT f.day,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(f.value), 6) AS sum_value
    FROM (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, value
          FROM events) f
    JOIN dim ON dim.day = f.day
    GROUP BY f.day
    """,
)
def join_partition_pruned_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the day-partitioned fact (the
    scan_partition_pruning layout) joins a dimension whose predicate
    ('Mondays only') is NOT a literal on the fact — Spark inserts a
    runtime `dynamicpruning` subquery into the fact scan's partition
    filters (plan-asserted in tests/test_extras47.py), so only the
    dim-selected partitions are read. This is the mechanism that
    makes star-schema date filtering free at 100 TB: the fact never
    needs the date list spelled out. Results equal the plain
    join-then-filter oracle on the unpartitioned original."""
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
    fact = spark.read.parquet(out).withColumn(
        "day", F.col("day").cast("string")
    )
    dim = (
        e.select(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .distinct()
        .filter(F.weekday(F.to_date("day")) == 0)  # Mondays
    )
    joined = fact.join(F.broadcast(dim), "day")
    return joined.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )
