"""Reusable operator library (SURVEY.md §2.11, §2.3 J8).

Every operator is a pure function over DataFrames/Columns built from
the public PySpark API — composable in pipelines (E1) and in the
contract queries. Cross-engine-portable hashing uses md5 (identical
hex output in Spark and DuckDB) so oracle checks stay exact; the
Spark-native fast path (xxhash64) is offered where parity is not
required.
"""

from etl_framework_spark.operators.textops import (
    tokens,
    distinct_tokens,
    normalize_text,
    shingles,
)
from etl_framework_spark.operators.similarity import dot_fold, l2_norm, cosine
from etl_framework_spark.operators.dedup import md5_per_token
from etl_framework_spark.operators.asof import asof_join

__all__ = [
    "tokens",
    "distinct_tokens",
    "normalize_text",
    "shingles",
    "dot_fold",
    "l2_norm",
    "cosine",
    "md5_per_token",
    "asof_join",
]
