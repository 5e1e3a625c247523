"""UDF / UDAF / UDTF surface: SURVEY.md §2.10 (X1–X5).

X1 (row-at-a-time UDF) exists for API parity but is the documented
slow path; X2–X4 are Arrow-batched (the only Python execution mode
appropriate at 100 TB). Every Python kernel sorts its inputs before
float accumulation so results are partition-order invariant.

Contract keys: ``udf_scalar``, ``udf_pandas``, ``udf_grouped``,
``udaf_geomean``, ``udtf_explode``, ``udtf_python``,
``udf_pandas_iter``, ``udf_arrow_map``.
"""
from __future__ import annotations

from typing import Iterator, Tuple  # noqa: UP035 — resolvable for Spark's UDF signature inference

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# X1 — scalar row-at-a-time Python UDF
# --------------------------------------------------------------------------
@query(
    "udf_scalar",
    oracle="""
    SELECT doc_id,
           round(CAST(n_chars AS DOUBLE) / (1 + len(string_split(text, ' '))), 6)
             AS density
    FROM documents
    """,
)
def udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time UDF (X1): chars-per-token density. Same formula
    as the oracle; row UDFs serialize per value — parity surface only."""
    @F.udf(DoubleType(), useArrow=False)
    def density(n_chars: int, text: str) -> float:
        return round(n_chars / (1 + len(text.split(" "))), 6)

    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", density("n_chars", "text").alias("density"))


# --------------------------------------------------------------------------
# X2 — vectorized (pandas) UDF
# --------------------------------------------------------------------------
@query(
    "udf_pandas",
    oracle="""
    SELECT event_id, round(ln(1 + value) * 2, 6) AS scaled
    FROM events
    """,
)
def udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDF (X2): Arrow-batched numpy kernel — the default
    Python path at scale (~10-100× over X1)."""
    @F.pandas_udf(DoubleType())
    def scaled(v: pd.Series) -> pd.Series:
        return pd.Series(np.round(np.log1p(v.to_numpy()) * 2, 6))

    ev = table(spark, sf_dir, "events")
    return ev.select("event_id", scaled("value").alias("scaled"))


# --------------------------------------------------------------------------
# X3 — grouped-map UDF (applyInPandas)
# --------------------------------------------------------------------------
@query(
    "udf_grouped",
    oracle="""
    SELECT doc_id, lang,
           CAST(rank() OVER (PARTITION BY lang ORDER BY n_chars) AS BIGINT)
             AS rnk
    FROM documents
    """,
)
def udf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDF (X3): per-language pandas rank (method='min'
    == SQL RANK). One shuffle on the group key, Arrow both ways."""
    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf[["doc_id", "lang"]].copy()
        out["rnk"] = pdf["n_chars"].rank(method="min").astype("int64")
        return out

    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("lang").applyInPandas(
        rank_group, schema="doc_id bigint, lang string, rnk bigint"
    )


# --------------------------------------------------------------------------
# X4 — UDAF (geometric mean via grouped-agg pandas UDF)
# --------------------------------------------------------------------------
@query(
    "udaf_geomean",
    oracle="""
    SELECT o_orderstatus, round(exp(avg(ln(o_totalprice))), 6) AS geomean
    FROM orders GROUP BY o_orderstatus
    """,
)
def udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate (X4): geometric mean. The kernel sorts before
    accumulating so the float result is partition-order invariant."""
    @F.pandas_udf(DoubleType())
    def geomean(v: pd.Series) -> float:
        logs = np.sort(np.log(v.to_numpy()))
        return float(round(np.exp(logs.sum() / len(logs)), 6))

    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(geomean("o_totalprice").alias("geomean"))


# --------------------------------------------------------------------------
# X5 — table function (one row → many rows)
# --------------------------------------------------------------------------
@query(
    "udtf_explode",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
               WHERE doc_id < 100)
    SELECT doc_id,
           CAST(unnest(generate_series(1, len(l))) - 1 AS INT) AS pos,
           unnest(l) AS token
    FROM t
    """,
)
def udtf_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table function (X5): one doc → one row per token with position
    (posexplode ↔ zipped unnest in the oracle)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )


@query("udtf_python")  # rows-only: native Python UDTF (Spark 4 API surface)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Python UDTF (X5 ⛔): lateral-join a table function that
    emits (n_tokens, n_chars) per document — API-surface coverage for
    Spark 4's @udtf; deterministic, rows-only checked."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="n_tokens int, n_chars int")
    class DocStats:
        def eval(self, text: str):
            yield len(text.split(" ")), len(text)

    spark.udtf.register("doc_stats", DocStats)
    table(spark, sf_dir, "documents").createOrReplaceTempView("__docs_udtf")
    return spark.sql(
        "SELECT d.doc_id, s.n_tokens, s.n_chars "
        "FROM __docs_udtf d, LATERAL doc_stats(d.text) s"
    )


# --------------------------------------------------------------------------
# X2b — scalar-iterator pandas UDF (amortized per-batch init)
# --------------------------------------------------------------------------
@query(
    "udf_pandas_iter",
    oracle="""
    SELECT doc_id,
           round(n_chars * 0.25 + len(string_split(text, ' ')) * 1.5, 6)
             AS est_tokens
    FROM documents
    """,
)
def udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-series pandas UDF (X2 variant): the production
    shape for kernels with expensive one-time init (model load,
    tokenizer build) — init runs once per PARTITION, then every Arrow
    batch streams through. Here the 'model' is a pair of fitted
    coefficients applied vectorized."""
    from pyspark.sql.functions import pandas_udf


    @pandas_udf("double")
    def est_tokens(it: Iterator[Tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        coef_chars, coef_words = 0.25, 1.5  # "loaded model", once per worker
        for n_chars, n_words in it:
            yield (n_chars * coef_chars + n_words * coef_words).round(6)

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("double").alias("nc"),
        F.size(F.split("text", " ")).cast("double").alias("nw"),
    )
    return docs.select(
        "doc_id", est_tokens(F.col("nc"), F.col("nw")).alias("est_tokens")
    )


# --------------------------------------------------------------------------
# X2c — mapInArrow: zero-copy RecordBatch hook
# --------------------------------------------------------------------------
@query(
    "udf_arrow_map",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
    FROM documents
    """,
)
def udf_arrow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow (X2 low-level variant): the kernel receives raw
    pyarrow RecordBatches — no pandas conversion at all, the cheapest
    Python hook Spark offers. Byte/word counts computed with Arrow
    compute kernels (C++, vectorized)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(batches):
        for b in batches:
            text = b.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    pc.cast(pc.binary_length(pc.cast(text, pa.binary())), pa.int64()),
                    pc.cast(
                        pc.list_value_length(pc.split_pattern(text, " ")), pa.int64()
                    ),
                ],
                names=["doc_id", "n_bytes", "n_words"],
            )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(kernel, "doc_id long, n_bytes long, n_words long")
