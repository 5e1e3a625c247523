"""Testdata catalog: table loading + temp-view registration.

Tables per FIXTURES.md / TESTDATA.md (driver-generated parquet,
read-only). SURVEY.md §1.1: table = DataFrame registered as a temp view
so steps can use the DataFrame API or SQL interchangeably.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # events.ts physical type varies by testdata generation:
        # TIMESTAMP(NANOS) — which Spark rejects (PARQUET_TYPE_ILLEGAL)
        # unless read as epoch-long and integer-divided to µs (a double
        # cast would lose precision above 2^53 ns) — or plain µs, which
        # reads as TimestampType directly and skips the bigint branch.
        # SURVEY.md §5.3 rule 4.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views (idempotent)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


# mkdtemp prefix of the per-process scratch directory; plans/inspect.py
# normalizes any location under it, whatever TMPDIR is
SCRATCH_PREFIX = "etl-scratch-"


@functools.cache
def _scratch_dir() -> str:
    path = tempfile.mkdtemp(prefix=SCRATCH_PREFIX)
    atexit.register(shutil.rmtree, path, True)
    return path


def scratch_path(name: str) -> str:
    """``<scratch dir>/<name>`` for keys that round-trip data through a
    sink. The scratch dir is one ``tempfile.mkdtemp`` per process,
    removed at exit, so copies of the checkout and concurrent runs
    never write to the same place."""
    return os.path.join(_scratch_dir(), name)


def sql_over_views(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """``sql`` run against the testdata tables registered as views."""
    register_views(spark, sf_dir)
    return spark.sql(sql)
