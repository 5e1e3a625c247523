"""Contract keys: ``sales_trading_day_adjusted``,
``llm_fertility_by_source``, ``dq_date_bounds``.

Trading-day adjustment, tokenizer fertility
by source, and the date-bounds audit.

Reference parity: the reference's calendar-adjusted revenue, its
tokenizer-cost profile, and its date-sanity rules — re-expressed as
a business-day divisor, per-source BPE/whitespace ratios, and
min/max bound scans.

Scale notes:

- ``sales_trading_day_adjusted``: month rollup + a row-local
  business-day count (closed form from the month's weekday
  composition via a 7-day generate_series — no calendar table).
- ``llm_fertility_by_source``: two regex counts per row, one
  rollup.
- ``dq_date_bounds``: one conditional scan per table, unioned.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.textops import BPE_PATTERN
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6


# --------------------------------------------------------------------------
# Trading-day adjusted monthly revenue
# --------------------------------------------------------------------------
@query(
    "sales_trading_day_adjusted",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS mo,
             sum(l_extendedprice * (1 - l_discount)) AS rev
      FROM lineitem
      WHERE CAST(substr(CAST(l_shipdate AS VARCHAR), 1, 4) AS INT) = 1995
      GROUP BY mo
    ),
    bd AS (
      SELECT mo, rev,
             (SELECT CAST(count(*) AS DOUBLE)
              FROM unnest(generate_series(CAST(mo AS DATE),
                          CAST(mo + INTERVAL 1 MONTH AS DATE)
                            - INTERVAL 1 DAY,
                          INTERVAL 1 DAY)) AS t(d)
              WHERE dayofweek(CAST(d AS DATE)) NOT IN (0, 6)) AS busdays
      FROM m
    )
    SELECT CAST(mo AS TIMESTAMP) AS month,
           round(rev, 2) AS revenue,
           CAST(busdays AS BIGINT) AS business_days,
           floor(rev / busdays * 100 + 0.5) / 100 AS rev_per_busday
    FROM bd ORDER BY mo
    """,
)
def sales_trading_day_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trading-day-adjusted monthly revenue for 1995: raw net
    revenue next to revenue PER BUSINESS DAY (weekday count of each
    month computed inline — no calendar table). A 'down' February
    that leads on rev/busday is a calendar artifact, not a demand
    change — the adjustment official statistics apply before any
    month is compared to another. Month rollup + a bounded per-month
    day expansion. Ref: reference calendar-adjustment tests (cf.
    sales_fiscal_445 for the retail-calendar fix, cal_densify for
    the calendar primitive)."""
    li = table(spark, sf_dir, "lineitem")
    m = (
        li.filter(F.year(F.col("l_shipdate").cast("date")) == 1995)
        .groupBy(
            F.date_trunc("month", F.col("l_shipdate").cast("date")).alias("mo")
        )
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    days = F.sequence(
        F.col("mo").cast("date"),
        F.date_sub(F.add_months(F.col("mo").cast("date"), 1), 1),
    )
    busdays = F.size(
        F.filter(days, lambda d: ~F.dayofweek(d).isin(1, 7))
    ).cast("double")
    bd = m.select("mo", "rev", busdays.alias("busdays"))
    return bd.select(
        F.col("mo").cast("timestamp").alias("month"),
        F.round("rev", 2).alias("revenue"),
        F.col("busdays").cast("bigint").alias("business_days"),
        (F.floor(F.col("rev") / F.col("busdays") * 100.0 + 0.5) / 100.0).alias(
            "rev_per_busday"
        ),
    ).orderBy("month")


# --------------------------------------------------------------------------
# Tokenizer fertility by source
# --------------------------------------------------------------------------
@query(
    "llm_fertility_by_source",
    oracle=f"""
    WITH d AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_ws,
             CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS DOUBLE)
               AS n_bpe,
             CAST(length(text) AS DOUBLE) AS n_chars
      FROM documents
    )
    SELECT source,
           CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
           CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
           floor(sum(n_bpe) / sum(n_ws) * 1000000 + 0.5) / 1000000
             AS fertility,
           floor(sum(n_chars) / sum(n_bpe) * 1000000 + 0.5) / 1000000
             AS chars_per_bpe_token
    FROM d GROUP BY source ORDER BY source
    """,
)
def llm_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: BPE-ish tokens per whitespace
    word and characters per BPE token. Fertility is the token-budget
    exchange rate — a source at 1.4 tokens/word costs 40% more
    context window per word than one at 1.0, which reweights every
    'tokens per source' budget the mix planner makes. Two regex
    counts per row, one rollup; integer counts → exact. Ref:
    reference tokenizer-cost tests (cf. llm_token_length_hist for
    the distribution, train_mix_cap_waterfill for the consumer)."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("double").alias("n_ws"),
        F.expr(f"size(regexp_extract_all(text, '{BPE_PATTERN}', 0))")
        .cast("double")
        .alias("n_bpe"),
        F.length("text").cast("double").alias("n_chars"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.sum("n_ws").cast("bigint").alias("ws_tokens"),
            F.sum("n_bpe").cast("bigint").alias("bpe_tokens"),
            q6(F.sum("n_bpe") / F.sum("n_ws")).alias("fertility"),
            q6(F.sum("n_chars") / F.sum("n_bpe")).alias("chars_per_bpe_token"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Date-bounds audit across the date-bearing tables
# --------------------------------------------------------------------------
@query(
    "dq_date_bounds",
    oracle="""
    SELECT 'orders.o_orderdate' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_orderdate) AS TIMESTAMP) AS min_val,
           CAST(max(o_orderdate) AS TIMESTAMP) AS max_val,
           CAST(sum(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1990-01-01'
                           OR CAST(o_orderdate AS DATE) > DATE '2005-01-01'
                         THEN 1 ELSE 0 END) AS BIGINT) AS out_of_bounds
    FROM orders
    UNION ALL
    SELECT 'lineitem.l_shipdate',
           CAST(count(*) AS BIGINT),
           CAST(min(l_shipdate) AS TIMESTAMP),
           CAST(max(l_shipdate) AS TIMESTAMP),
           CAST(sum(CASE WHEN CAST(l_shipdate AS DATE) < DATE '1990-01-01'
                           OR CAST(l_shipdate AS DATE) > DATE '2005-01-01'
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'events.ts',
           CAST(count(*) AS BIGINT),
           CAST(date_trunc('second', min(ts)) AS TIMESTAMP),
           CAST(date_trunc('second', max(ts)) AS TIMESTAMP),
           CAST(sum(CASE WHEN ts < TIMESTAMP '2020-01-01'
                           OR ts > TIMESTAMP '2030-01-01'
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM events
    ORDER BY column_name
    """,
)
def dq_date_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-bounds audit: min/max and out-of-window counts for every
    date-bearing column (orders/lineitem in the 1990-2005 business
    window, events in the 2020s telemetry window). Catches the two
    classic ingestion bugs — epoch-zero defaults (1970) and
    unit-confused timestamps (seconds read as millis → year 52000)
    — before they poison partitioning. One min/max/conditional scan
    per table. Ref: reference date-rule tests (cf.
    dq_temporal_sanity for cross-column order, dq_freshness for
    recency)."""
    od = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    ev = table(spark, sf_dir, "events")

    def audit_date(df, col, label, lo, hi):
        c = F.col(col).cast("date")
        return df.agg(
            F.lit(label).alias("column_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min(col).cast("timestamp").alias("min_val"),
            F.max(col).cast("timestamp").alias("max_val"),
            F.sum(
                F.when(
                    (c < F.lit(lo).cast("date")) | (c > F.lit(hi).cast("date")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("out_of_bounds"),
        )

    ev_audit = ev.agg(
        F.lit("events.ts").alias("column_name"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.date_trunc("second", F.min("ts")).cast("timestamp").alias("min_val"),
        F.date_trunc("second", F.max("ts")).cast("timestamp").alias("max_val"),
        F.sum(
            F.when(
                (F.col("ts") < F.lit("2020-01-01").cast("timestamp"))
                | (F.col("ts") > F.lit("2030-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("out_of_bounds"),
    )
    return (
        audit_date(od, "o_orderdate", "orders.o_orderdate", "1990-01-01", "2005-01-01")
        .unionAll(
            audit_date(
                li, "l_shipdate", "lineitem.l_shipdate", "1990-01-01", "2005-01-01"
            )
        )
        .unionAll(ev_audit)
        .orderBy("column_name")
    )
