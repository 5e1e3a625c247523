"""Coverage completers for SURVEY.md §2 rows not exercised elsewhere:
full outer join (J2), INTERSECT ALL (U3), LIMIT without order (O3),
seeded sampling (O4), approximate percentile (A8 approx half).

Contract keys: ``join_full``, ``set_intersect_all``, ``limit_rows``,
``sample_seed``, ``agg_quantile_approx``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


@query(
    "join_full",
    oracle="""
    SELECT f.o_custkey AS k_f, f.n_f, o.o_custkey AS k_o, o.n_o
    FROM (SELECT o_custkey, count(*) AS n_f FROM orders
          WHERE o_orderstatus = 'F' GROUP BY 1) f
    FULL OUTER JOIN
         (SELECT o_custkey, count(*) AS n_o FROM orders
          WHERE o_orderstatus = 'O' GROUP BY 1) o
      ON f.o_custkey = o.o_custkey
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (J2): null-extends BOTH sides."""
    o = table(spark, sf_dir, "orders")
    f = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_f"))
        .select(F.col("o_custkey").alias("k_f"), "n_f")
    )
    op = (
        o.filter(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_o"))
        .select(F.col("o_custkey").alias("k_o"), "n_o")
    )
    return f.join(op, f.k_f == op.k_o, "full_outer").select("k_f", "n_f", "k_o", "n_o")


@query(
    "set_intersect_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag intersection (U3, INTERSECT ALL semantics)."""
    o = table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersectAll(op)


@query("limit_rows")  # rows-only: which k rows is engine-arbitrary (O3)
def limit_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT without ORDER BY (O3): row choice is plan-dependent, so
    only the count contract holds."""
    return table(spark, sf_dir, "lineitem").limit(100)


@query("sample_seed")  # rows-only: RNG streams are engine-specific (O4)
def sample_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample (O4): deterministic within Spark for a
    fixed seed+partitioning; no cross-engine oracle by nature."""
    return table(spark, sf_dir, "orders").sample(fraction=0.1, seed=42)


@query("agg_quantile_approx")  # rows-only: sketch values are engine-specific
def agg_quantile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (A8 approximate half): unit tests bound it
    against the exact quantile; no hash oracle by design."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5, 1000).alias("p50_approx"),
            F.percentile_approx("value", 0.9, 1000).alias("p90_approx"),
        )
    )
