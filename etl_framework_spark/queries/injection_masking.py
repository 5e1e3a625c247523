"""Contract keys: ``llm_injection_scan``, ``sales_return_rate_trend``,
``fn_masking``.

Injection-pattern scan, return-rate trend,
and masking functions.

Reference parity: the reference's content-policy scanner, its
return-exposure trend, and its data-masking transform —
re-expressed as a regex battery with per-pattern counts, a monthly
conditional rollup with a closed-form slope, and chained
regexp_replace masking with a distinctness-preservation audit.

Scale notes:

- ``llm_injection_scan``: all patterns evaluate row-locally in one
  scan; output is per-pattern counts.
- ``sales_return_rate_trend``: |months| rollup + closed-form OLS.
- ``fn_masking``: row-local rewrites; the audit compares distinct
  counts before/after (k-anonymity effect of masking).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

_PATTERNS = [
    ("ignore_instructions", r"ignore (all |any )?(previous|prior)"),
    ("system_prompt", r"(^|\s)system\s*:"),
    ("role_play", r"pretend (you are|to be)"),
    ("exfil_url", r"https?://[^\s]+"),
    ("base64_blob", r"[A-Za-z0-9+/]{40,}={0,2}"),
]


# --------------------------------------------------------------------------
# Prompt-injection / policy pattern scan
# --------------------------------------------------------------------------
def _inj_oracle() -> str:
    branches = []
    for name, pat in _PATTERNS:
        branches.append(
            f"""
    SELECT '{name}' AS pattern,
           (SELECT CAST(count(*) AS BIGINT) FROM documents
            WHERE regexp_matches(text, '{pat}')) AS n_docs_hit,
           (SELECT round(CAST(count(*) FILTER (regexp_matches(text, '{pat}'))
                         AS DOUBLE) / count(*), 6)
            FROM documents) AS hit_share"""
        )
    return (
        "SELECT * FROM ("
        + " UNION ALL ".join(branches)
        + ") ORDER BY pattern"
    )


@query("llm_injection_scan", oracle=_inj_oracle())
def llm_injection_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-policy scan: per-pattern document hit counts for five
    prompt-injection / exfiltration signatures (instruction
    overrides, inline system prompts, role-play jailbreaks, URLs,
    base64 blobs). On a clean corpus every count is 0 — and that
    zero IS the product: the scan is the gate that keeps poisoned
    documents out of an instruction-tuning mix, and its false-
    positive rate on clean data is the first thing to calibrate.
    One row-local regex battery. Ref: reference content-policy
    tests (cf. llm_scrub for removal, llm_quality_filter for the
    benign-quality axis)."""
    docs = table(spark, sf_dir, "documents")
    docs = docs.transform(persist_tracked)
    outs = []
    for name, pat in _PATTERNS:
        hit = F.col("text").rlike(pat)
        outs.append(
            docs.agg(
                F.lit(name).alias("pattern"),
                F.sum(F.when(hit, 1).otherwise(0))
                .cast("bigint")
                .alias("n_docs_hit"),
                F.round(
                    F.sum(F.when(hit, 1).otherwise(0)).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("hit_share"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("pattern")


# --------------------------------------------------------------------------
# Return-rate trend: monthly returned-revenue share with OLS slope
# --------------------------------------------------------------------------
@query(
    "sales_return_rate_trend",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS mo,
             sum(CASE WHEN l_returnflag = 'R'
                      THEN l_extendedprice ELSE 0 END) AS ret_rev,
             sum(l_extendedprice) AS rev
      FROM lineitem GROUP BY mo
    ),
    idx AS (
      SELECT CAST(row_number() OVER (ORDER BY mo) AS DOUBLE) AS t,
             ret_rev / rev AS rate
      FROM m
    ),
    fit AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(t) AS st, sum(rate) AS sr,
             sum(t * rate) AS str, sum(t * t) AS stt
      FROM idx
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           floor(sr / n * 1000000 + 0.5) / 1000000 AS mean_return_share,
           floor((str - st * sr / n) / (stt - st * st / n) * 1000000000
                 + 0.5) / 1000000000 AS share_slope_per_month
    FROM fit
    """,
)
def sales_return_rate_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-exposure trend: the monthly returned-revenue share and
    its OLS slope per month — a rising slope is the early-warning
    that quality or fit problems are compounding (each basis point
    of return share is revenue already booked that will unwind).
    |months| rollup + closed-form fit. Ref: reference exposure-trend
    tests (cf. q10_returns for the who, sales_gross_to_net for the
    waterfall this feeds)."""
    li = table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window as W

    m = li.groupBy(
        F.date_trunc("month", F.col("l_shipdate").cast("date")).alias("mo")
    ).agg(
        F.sum(
            F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice")).otherwise(
                0.0
            )
        ).alias("ret_rev"),
        F.sum("l_extendedprice").alias("rev"),
    )
    idx = m.select(
        F.row_number().over(W.orderBy("mo")).cast("double").alias("t"),
        (F.col("ret_rev") / F.col("rev")).alias("rate"),
    )
    fit = idx.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("t").alias("st"),
        F.sum("rate").alias("sr"),
        F.sum(F.col("t") * F.col("rate")).alias("str"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    )
    n = F.col("n")
    slope = (F.col("str") - F.col("st") * F.col("sr") / n) / (
        F.col("stt") - F.col("st") * F.col("st") / n
    )
    return fit.select(
        n.cast("bigint").alias("n_months"),
        (F.floor(F.col("sr") / n * 1000000.0 + 0.5) / 1000000.0).alias(
            "mean_return_share"
        ),
        (F.floor(slope * 1000000000.0 + 0.5) / 1000000000.0).alias(
            "share_slope_per_month"
        ),
    )


# --------------------------------------------------------------------------
# Masking transform with distinctness-preservation audit
# --------------------------------------------------------------------------
@query(
    "fn_masking",
    oracle="""
    WITH m AS (
      SELECT p_name,
             regexp_replace(regexp_replace(regexp_replace(p_name,
               '[0-9]', '#', 'g'), '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g')
               AS masked,
             regexp_replace(p_name, '[a-z]+$', '***') AS suffix_redacted
      FROM part
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT p_name) AS BIGINT) AS distinct_raw,
           CAST(count(DISTINCT masked) AS BIGINT) AS distinct_masked,
           CAST(count(DISTINCT suffix_redacted) AS BIGINT)
             AS distinct_suffix_redacted,
           round(CAST(count(DISTINCT masked) AS DOUBLE)
                 / count(DISTINCT p_name), 6) AS mask_distinct_ratio
    FROM m
    """,
)
def fn_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-masking transform + privacy audit: full shape masking
    (digits → #, upper → X, lower → x) and suffix redaction on part
    names, with distinct counts before/after. mask_distinct_ratio is
    the privacy/utility dial read directly: 1.0 means the mask leaks
    full identity through shape alone; near 1/n means everything
    collapses (k-anonymity by obliteration). Row-local chained
    regexp_replace — the masking is expressible identically on both
    engines (global-replace semantics pinned). Ref: reference
    masking-function tests (cf. dq_kanon for the formal guarantee,
    llm_scrub for free-text PII)."""
    pt = table(spark, sf_dir, "part")
    masked = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("p_name"), "[0-9]", "#"), "[A-Z]", "X"
        ),
        "[a-z]",
        "x",
    )
    suffix = F.regexp_replace(F.col("p_name"), "[a-z]+$", "***")
    m = pt.select(
        "p_name", masked.alias("masked"), suffix.alias("suffix_redacted")
    )
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_distinct("p_name").cast("bigint").alias("distinct_raw"),
        F.count_distinct("masked").cast("bigint").alias("distinct_masked"),
        F.count_distinct("suffix_redacted")
        .cast("bigint")
        .alias("distinct_suffix_redacted"),
        F.round(
            F.count_distinct("masked").cast("double")
            / F.count_distinct("p_name"),
            6,
        ).alias("mask_distinct_ratio"),
    )
