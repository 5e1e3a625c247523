"""Pipeline-layer contract queries (SURVEY.md §3.2 E1, §2.1 S5).

`pipeline_spec_q1` proves the spec-driven engine end-to-end against
the same DuckDB oracle as the flagship query: config dict → sources →
declarative steps → result. `sink_roundtrip_parquet` proves the
partitioned parquet sink preserves data exactly (write → re-read →
aggregate vs oracle on the original table).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import scratch_path, table
from etl_framework_spark.pipeline import run_pipeline
from etl_framework_spark.registry import query

_Q1_ORACLE = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


@query("pipeline_spec_q1", oracle=_Q1_ORACLE)
def pipeline_spec_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference-equivalent entry point (E1): the flagship Q1 shape
    declared entirely as a config dict — sources + expression-string
    steps — compiled and run by the pipeline engine."""
    spec = {
        "sources": {
            "lineitem": {"format": "parquet", "path": f"{sf_dir}/lineitem.parquet"}
        },
        "steps": [
            {
                "name": "filtered",
                "input": "lineitem",
                "op": "filter",
                "args": {"condition": "l_shipdate <= timestamp'1998-09-02'"},
            },
            {
                "name": "result",
                "input": "filtered",
                "op": "aggregate",
                "args": {
                    "group_by": ["l_returnflag", "l_linestatus"],
                    "aggs": {
                        "sum_qty": "round(sum(l_quantity), 2)",
                        "sum_disc_price": (
                            "round(sum(l_extendedprice * (1 - l_discount)), 2)"
                        ),
                        "avg_disc": "round(avg(l_discount), 6)",
                        "count_order": "count(*)",
                    },
                },
            },
        ],
    }
    return run_pipeline(spark, spec)["result"]


@query(
    "sink_roundtrip_parquet",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem WHERE l_quantity > 25
    GROUP BY l_returnflag
    """,
)
def sink_roundtrip_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink round-trip (S5): write the filtered
    fact partitioned by l_returnflag, re-read, aggregate — must match
    the oracle computed on the ORIGINAL table exactly."""
    out = scratch_path(f"sink_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 25)
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


_ROUNDTRIP_TEXT_ORACLE = """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(length(text)) AS BIGINT) AS total_text_len,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_texts
    FROM documents GROUP BY lang
"""

_DOCS_DDL = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"


@query("sink_roundtrip_csv", oracle=_ROUNDTRIP_TEXT_ORACLE)
def sink_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + schema-on-read source round-trip (S2/S6): write the
    documents table as quoted CSV with a header, re-read it with an
    explicit DDL schema (never inference — schema drift at 100 TB is
    silent corruption), and aggregate per language including a text
    integrity digest count — must match the oracle on the ORIGINAL
    parquet exactly, proving quoting/escaping round-trips free text."""
    out = scratch_path(f"sink_csv_{os.path.basename(sf_dir.rstrip('/'))}")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    docs.write.mode("overwrite").option("header", True).option(
        "quoteAll", True
    ).csv(out)
    back = (
        spark.read.schema(_DOCS_DDL).option("header", True).csv(out)
    )
    return back.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.length("text")).cast("bigint").alias("total_text_len"),
        F.countDistinct(F.md5("text")).cast("bigint").alias("distinct_texts"),
    )


@query("sink_roundtrip_json", oracle=_ROUNDTRIP_TEXT_ORACLE)
def sink_roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source round-trip (S3/S6): same integrity
    contract as the CSV round-trip through the JSON writer/reader
    (explicit DDL schema on read; JSON escaping must round-trip free
    text exactly)."""
    out = scratch_path(f"sink_json_{os.path.basename(sf_dir.rstrip('/'))}")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    docs.write.mode("overwrite").json(out)
    back = spark.read.schema(_DOCS_DDL).json(out)
    return back.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.length("text")).cast("bigint").alias("total_text_len"),
        F.countDistinct(F.md5("text")).cast("bigint").alias("distinct_texts"),
    )
