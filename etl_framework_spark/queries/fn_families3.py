"""Third-wave function coverage: bitwise operators + regexp predicates
(F3/F1 widening) and array set operations (F4 widening). Array set-op
results are exposed order-insensitively (sizes/booleans/positions) —
Spark and DuckDB order distinct-union elements differently.

Contract keys: ``fn_bitwise``, ``fn_array2``, ``fn_math2``,
``fn_date3``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.rounding import hybrid_round_select
from etl_framework_spark.registry import query


@query(
    "fn_bitwise",
    oracle="""
    SELECT p_partkey,
           p_size & 15 AS band,
           p_size | 16 AS bor,
           xor(p_size, 21) AS bxor,
           p_size << 2 AS shl,
           p_size >> 1 AS shr,
           ~p_size AS bnot,
           CAST(bit_count(p_size) AS INT) AS bcnt,
           regexp_matches(p_name, '[aeiou]{2}') AS has_double_vowel,
           CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INT) AS n_vowels
    FROM part
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operators + regexp predicates (F3/F1)."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.expr("p_size & 15").alias("band"),
        F.expr("p_size | 16").alias("bor"),
        F.expr("p_size ^ 21").alias("bxor"),
        F.shiftleft(F.col("p_size"), 2).alias("shl"),
        F.shiftright(F.col("p_size"), 1).alias("shr"),
        F.expr("~p_size").alias("bnot"),
        F.bit_count(F.col("p_size")).alias("bcnt"),
        F.expr("regexp_like(p_name, '[aeiou]{2}')").alias("has_double_vowel"),
        F.expr("regexp_count(p_name, '[aeiou]')").alias("n_vowels"),
    )


@query(
    "fn_array2",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
    SELECT doc_id,
           CAST(len(list_distinct(list_concat(l, ['alpha', 'beta']))) AS INT)
             AS n_union,
           CAST(len(list_filter(list_distinct(l),
                    x -> x NOT IN ('the', 'of', 'and'))) AS INT) AS n_except,
           len(list_intersect(l, ['the', 'of'])) > 0 AS has_common,
           CAST(coalesce(list_position(l, 'the'), 0) AS BIGINT) AS pos_the,
           array_to_string(generate_series(1, CAST(len(l) % 4 + 1 AS INT)), '-')
             AS seq_str,
           array_to_string(list_slice(list_reverse(l), 1, 3), ' ') AS last3_rev
    FROM t
    """,
)
def fn_array2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set operations (F4): union/except/overlap/position +
    sequence generation and reversal."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("l"))
    return t.select(
        "doc_id",
        F.size(F.array_union("l", F.array(F.lit("alpha"), F.lit("beta")))).alias(
            "n_union"
        ),
        F.size(
            F.array_except("l", F.array(F.lit("the"), F.lit("of"), F.lit("and")))
        ).alias("n_except"),
        F.arrays_overlap("l", F.array(F.lit("the"), F.lit("of"))).alias("has_common"),
        F.array_position("l", "the").alias("pos_the"),
        F.array_join(F.sequence(F.lit(1), F.size("l") % 4 + 1), "-").alias("seq_str"),
        F.array_join(F.slice(F.reverse(F.col("l")), 1, 3), " ").alias("last3_rev"),
    )


@query(
    "fn_math2",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(sin(l_discount), 6) AS sn,
           round(cos(l_discount), 6) AS cs,
           round(tan(l_discount), 6) AS tn,
           round(asin(l_discount), 6) AS asn,
           round(acos(l_discount), 6) AS acs,
           round(atan(l_quantity), 6) AS atn,
           round(atan2(l_quantity, l_extendedprice), 6) AS at2,
           round(degrees(l_discount), 6) AS deg,
           round(radians(l_quantity), 6) AS rad,
           round(log2(l_extendedprice), 6) AS lg2,
           round(cbrt(l_extendedprice), 6) AS cb,
           round(sqrt(l_quantity * l_quantity
                      + l_extendedprice * l_extendedprice), 6) AS hyp,
           round(exp(l_discount) - 1, 6) AS em1,
           round(ln(1 + l_discount), 6) AS l1p
    FROM lineitem
    """,
)
def fn_math2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family, wave 2 (F3): trigonometry, atan2, angle
    conversions, log2/cbrt, hypot (emulated in the oracle — DuckDB
    lacks hypot), expm1/log1p. All libm-backed → rounded to 6dp.

    Timing note (r10, measured): the raw 15-function projection runs
    0.29 s at sf0.1; the key's ~3 s was F.round — Spark rounds doubles
    through a per-value BigDecimal (9M allocations here). That cost is
    the ORACLE-PARITY device (JVM vs C libm differ in the last ulp),
    not a plan defect; a bare floor(x·1e6+0.5) rewrite was rejected in
    r10 as fragile (sign + decimal-boundary corner cases).

    r12 (VERDICT r11 item 7; guide §4.2): the rejection is resolved by
    the HYBRID in operators/rounding.py — an Arrow fast path for every
    value plus Spark's own F.round evaluated lazily on the guard band
    around half-integer boundaries (60 of 8.4M values here), which is
    provably the only place the two can disagree. Exactly F.round's
    output, 3.59 → 1.72 s median at sf0.1 (libm stays in the JVM; only
    finished doubles cross the Arrow boundary, so DuckDB-vs-JVM libm
    parity is untouched)."""
    li = table(spark, sf_dir, "lineitem")
    d, q, p = F.col("l_discount"), F.col("l_quantity"), F.col("l_extendedprice")
    return hybrid_round_select(
        li,
        ["l_orderkey", "l_linenumber"],
        [
            ("sn", F.sin(d), 6),
            ("cs", F.cos(d), 6),
            ("tn", F.tan(d), 6),
            ("asn", F.asin(d), 6),
            ("acs", F.acos(d), 6),
            ("atn", F.atan(q), 6),
            ("at2", F.atan2(q, p), 6),
            ("deg", F.degrees(d), 6),
            ("rad", F.radians(q), 6),
            ("lg2", F.log2(p), 6),
            ("cb", F.cbrt(p), 6),
            ("hyp", F.hypot(q, p), 6),
            ("em1", F.expm1(d), 6),
            ("l1p", F.log1p(d), 6),
        ],
    )


@query(
    "fn_date3",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start,
           CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS quarter_start,
           CAST(isodow(o_orderdate) AS INT) AS iso_dow,
           CAST(date_trunc('year', o_orderdate) AS TIMESTAMP) AS year_start
    FROM orders
    """,
)
def fn_date3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date family, wave 3 (F2): week/quarter/year truncation (both
    engines start weeks on Monday) and ISO day-of-week."""
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_trunc("week", d).alias("week_start"),
        F.date_trunc("quarter", d).alias("quarter_start"),
        F.expr("weekday(o_orderdate) + 1").alias("iso_dow"),
        F.date_trunc("year", d).alias("year_start"),
    )
