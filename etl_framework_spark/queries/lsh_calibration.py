"""Contract keys: ``llm_lsh_calibration``.

LSH band-collision calibration.

``llm_lsh_calibration``: for every (lang, source)-blocked pair, the
EXACT token Jaccard next to whether the pair actually collides in at
least one MinHash band (the same 16-perm / 2×8-band machinery
llm_dedup_minhash clusters with), bucketed by Jaccard decile and
compared against the theoretical S-curve P(collide) = 1 − (1 − j^r)^b.
This is the plot that justifies (or indicts) the banding parameters
BEFORE a 100 TB dedup run: measured collision rates per similarity
bucket vs what the r/b choice promises. The pair set is bounded by
blocking; signatures ride the same corpus scan; everything else is a
|deciles|-row rollup of exact integer counts.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.textops import tokens
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

_R = 8  # rows per band (must match llm_dedup_minhash)
_B = 2  # bands


def _oracle() -> str:
    from etl_framework_spark.queries.llm import _duck_minhash_cte

    band_eq = " OR ".join(
        "("
        + " AND ".join(f"sa.s{b * _R + i} = sb.s{b * _R + i}" for i in range(_R))
        + ")"
        for b in range(_B)
    )
    return (
        _duck_minhash_cte()
        + f""",
    meta AS (SELECT doc_id, lang, source,
                    list_distinct(string_split(text, ' ')) AS ts2
             FROM documents),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.ts2, b.ts2)) AS DOUBLE)
               / (len(a.ts2) + len(b.ts2)
                  - len(list_intersect(a.ts2, b.ts2))) AS jac
      FROM meta a
      JOIN meta b ON a.lang = b.lang AND a.source = b.source
                 AND a.doc_id < b.doc_id
    ),
    flagged AS (
      SELECT p.jac,
             CAST(least(floor(p.jac * 10), 9) AS BIGINT) AS bucket,
             CASE WHEN {band_eq} THEN 1 ELSE 0 END AS collided
      FROM pairs p
      JOIN sigs sa ON sa.doc_id = p.id_a
      JOIN sigs sb ON sb.doc_id = p.id_b
    )
    SELECT bucket,
           round(bucket / 10.0 + 0.05, 2) AS j_mid,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(collided) AS BIGINT) AS n_collided,
           round(sum(collided) * 1.0 / count(*), 6) AS measured_rate,
           round(1.0 - pow(1.0 - pow(bucket / 10.0 + 0.05, {_R}), {_B}), 6)
             AS theoretical_rate
    FROM flagged GROUP BY bucket
    """
    )


@query("llm_lsh_calibration", oracle=_oracle())
def llm_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding calibration: per Jaccard-decile bucket, the
    MEASURED band-collision rate of the production 16-perm / 2×8-band
    MinHash against the theoretical S-curve 1 − (1 − j^r)^b evaluated
    at the bucket midpoint — the plot that validates the r/b choice
    before trusting a 100 TB dedup run with it (a measured rate far
    off the curve means the permutations are correlated or the
    shingling is broken). Signatures are the SAME md5-sliced columns
    llm_dedup_minhash clusters with; exact Jaccard rides the blocked
    pair set; the report is ≤10 rows of exact integer counts."""
    from etl_framework_spark.operators.dedup import attach_minhash

    docs = table(spark, sf_dir, "documents")
    toksets = docs.select(
        "doc_id", "lang", "source", F.array_distinct(tokens("text")).alias("ts")
    )
    # persist: the self-join references the signature frame on both
    # sides — without a cache the md5 signature pipeline runs twice
    # (same fix as llm_dedup_simhash_banded / llm_minhash_est_err, r10)
    sigs = attach_minhash(toksets, "ts", _R * _B).transform(persist_tracked)
    a = sigs.alias("a")
    b = sigs.alias("b")
    inter = F.size(F.array_intersect("a.ts", "b.ts")).cast("double")
    jac = inter / (F.size("a.ts") + F.size("b.ts") - inter)
    band_eq = None
    for bi in range(_B):
        eq = None
        for i in range(_R):
            c = F.col(f"a.s{bi * _R + i}") == F.col(f"b.s{bi * _R + i}")
            eq = c if eq is None else (eq & c)
        band_eq = eq if band_eq is None else (band_eq | eq)
    flagged = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.least(F.floor(jac * 10), F.lit(9)).cast("bigint").alias("bucket"),
            F.when(band_eq, 1).otherwise(0).alias("collided"),
        )
    )
    j_mid = F.col("bucket") / 10.0 + 0.05
    return flagged.groupBy("bucket").agg(
        F.round(F.first(j_mid), 2).alias("j_mid"),
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("collided").cast("bigint").alias("n_collided"),
        F.round(F.sum("collided") / F.count("*").cast("double"), 6).alias(
            "measured_rate"
        ),
        F.round(
            1.0 - F.pow(1.0 - F.pow(j_mid, float(_R)), float(_B)), 6
        ).alias("theoretical_rate"),
    ).select(
        "bucket", "j_mid", "n_pairs", "n_collided", "measured_rate",
        "theoretical_rate",
    )
