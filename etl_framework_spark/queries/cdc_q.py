"""CDC contract query: SCD2 dimension maintenance, oracle-checked.

The update batch is synthesized deterministically from the customer
table itself (every custkey % 3 == 0 gets +100 on acctbal at a fixed
timestamp), so the SCD2 output — closed interval + new current row per
changed key — is exactly expressible in the DuckDB oracle.

Contract keys: ``cdc_scd2``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.cdc import scd2_apply
from etl_framework_spark.registry import query


@query(
    "cdc_scd2",
    oracle="""
    SELECT c_custkey, round(c_acctbal, 2) AS acctbal,
           TIMESTAMP '1990-01-01' AS eff_from,
           CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '2000-01-01' END AS eff_to
    FROM customer
    UNION ALL
    SELECT c_custkey, round(c_acctbal + 100, 2), TIMESTAMP '2000-01-01', NULL
    FROM customer WHERE c_custkey % 3 = 0
    """,
)
def cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 apply (CDC family): close the current row at the update
    timestamp and open a new [ts, NULL) row for every key whose
    tracked attribute changed; one full outer join of the dimension
    with the updates, shuffling on the dimension key."""
    c = table(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.lit("1990-01-01").cast("timestamp").alias("eff_from"),
        F.lit(None).cast("timestamp").alias("eff_to"),
    )
    updates = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select("c_custkey", F.round(F.col("c_acctbal") + 100, 2).alias("acctbal"))
    )
    return scd2_apply(
        dim,
        updates,
        key="c_custkey",
        tracked=["acctbal"],
        ts=F.lit("2000-01-01").cast("timestamp"),
    )
