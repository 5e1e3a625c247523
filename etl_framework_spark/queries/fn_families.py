"""Scalar function families: SURVEY.md §2.8 (F1–F7).

One composite query per family; every projected column is one function
under test, aliased identically on both sides. Known Spark↔DuckDB
divergences normalized per SURVEY.md §5.3 rule 5:
  - regexp_replace: Spark replaces all matches by default; DuckDB
    needs the 'g' flag.
  - dayofweek: Spark is 1..7 Sunday-first, DuckDB 0..6 → oracle +1.
  - initcap: absent in DuckDB 1.0 → emulated word-wise.
  - ceil/floor return BIGINT in Spark but DOUBLE in DuckDB → cast.
  - libm funcs (exp/ln/pow) can differ in the last ulp → round(6).
  - months_between: Spark's 31-day-month fractional semantics have no
    DuckDB equivalent — covered by unit test only, not the oracle.

Contract keys: ``fn_string``, ``fn_date``, ``fn_math``, ``fn_array``,
``fn_map``, ``fn_json``, ``fn_hash``, ``fn_hash_native``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# F1 — string family
# --------------------------------------------------------------------------
@query(
    "fn_string",
    oracle="""
    SELECT p_partkey,
           concat_ws('|', p_brand, p_type) AS cat,
           lower(p_name) AS lo, upper(p_name) AS up,
           substr(p_name, 3, 5) AS sub,
           length(p_name) AS len,
           lpad(p_brand, 12, '*') AS lp, rpad(p_brand, 12, '*') AS rp,
           replace(p_name, 'a', '@') AS rep,
           array_to_string(string_split(p_name, ' '), '_') AS joined,
           regexp_extract(p_type, '^(\\w+)', 1) AS first_word,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS devowel,
           p_name LIKE '%a%' AS has_a,
           starts_with(p_type, 'S') AS s_type,
           instr(p_name, 'a') AS a_pos,
           translate(p_name, 'abc', 'xyz') AS tr,
           reverse(p_brand) AS rev,
           repeat(p_brand, 2) AS rep2,
           trim(' ' || p_brand || ' ') AS trimmed,
           array_to_string(
             list_transform(string_split(lower(p_name), ' '),
                            w -> upper(substr(w, 1, 1)) || substr(w, 2)),
             ' ') AS icap
    FROM part
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family (F1): 20 functions in one projection."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.concat_ws("|", "p_brand", "p_type").alias("cat"),
        F.lower("p_name").alias("lo"),
        F.upper("p_name").alias("up"),
        F.substring("p_name", 3, 5).alias("sub"),
        F.length("p_name").alias("len"),
        F.lpad("p_brand", 12, "*").alias("lp"),
        F.rpad("p_brand", 12, "*").alias("rp"),
        F.replace(F.col("p_name"), F.lit("a"), F.lit("@")).alias("rep"),
        F.array_join(F.split("p_name", " "), "_").alias("joined"),
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("devowel"),
        F.col("p_name").like("%a%").alias("has_a"),
        F.startswith(F.col("p_type"), F.lit("S")).alias("s_type"),
        F.instr(F.col("p_name"), "a").alias("a_pos"),
        F.translate("p_name", "abc", "xyz").alias("tr"),
        F.reverse(F.col("p_brand")).alias("rev"),
        F.repeat(F.col("p_brand"), 2).alias("rep2"),
        F.trim(F.concat(F.lit(" "), F.col("p_brand"), F.lit(" "))).alias("trimmed"),
        F.initcap(F.lower("p_name")).alias("icap"),
    )


# --------------------------------------------------------------------------
# F2 — date/time family
# --------------------------------------------------------------------------
@query(
    "fn_date",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           day(o_orderdate) AS dom,
           quarter(o_orderdate) AS qtr,
           dayofweek(o_orderdate) + 1 AS dow,
           date_trunc('month', o_orderdate) AS mon_start,
           CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS od,
           CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS od_plus30,
           CAST(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS TIMESTAMP) AS od_plus3m,
           datediff('day', o_orderdate, TIMESTAMP '2000-01-01') AS days_to_y2k,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS unix_ts,
           strftime(o_orderdate, '%Y-%m-%d') AS fmt,
           CAST(last_day(o_orderdate) AS TIMESTAMP) AS eom
    FROM orders
    """,
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family (F2). dayofweek normalized (+1 in oracle)."""
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        F.quarter(d).alias("qtr"),
        F.dayofweek(d).alias("dow"),
        F.date_trunc("month", d).alias("mon_start"),
        # Date-typed results are exposed as midnight timestamps: DuckDB's
        # pandas bridge widens DATE to datetime64 while Spark keeps
        # datetime.date — a comparator hazard unless both sides agree.
        F.to_date(d).cast("timestamp").alias("od"),
        F.date_add(F.to_date(d), 30).cast("timestamp").alias("od_plus30"),
        F.add_months(F.to_date(d), 3).cast("timestamp").alias("od_plus3m"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.to_date(d)).alias("days_to_y2k"),
        F.unix_timestamp(d).alias("unix_ts"),
        F.date_format(d, "yyyy-MM-dd").alias("fmt"),
        F.last_day(d).cast("timestamp").alias("eom"),
    )


# --------------------------------------------------------------------------
# F3 — math family
# --------------------------------------------------------------------------
@query(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_discount * 3, 2) AS rnd,
           round_even(l_discount * 3, 2) AS brnd,
           abs(l_extendedprice - 30000) AS ab,
           CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
           CAST(floor(l_extendedprice) AS BIGINT) AS fl,
           round(pow(l_quantity, 2), 6) AS p2,
           round(sqrt(l_extendedprice), 6) AS sq,
           round(exp(-l_discount), 6) AS ex,
           round(ln(l_extendedprice), 6) AS lg,
           round(log(l_extendedprice), 6) AS lg10,
           CAST(sign(l_discount - 0.05) AS INT) AS sg,
           round(((l_quantity % 7.0) + 7.0) % 7.0, 6) AS pm,
           greatest(l_extendedprice, l_quantity * 1000) AS gr,
           least(l_extendedprice, l_quantity * 1000) AS le
    FROM lineitem
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family (F3). libm-backed functions rounded to 6 dp."""
    li = table(spark, sf_dir, "lineitem")
    p, q, d = F.col("l_extendedprice"), F.col("l_quantity"), F.col("l_discount")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(d * 3, 2).alias("rnd"),
        F.bround(d * 3, 2).alias("brnd"),
        F.abs(p - 30000).alias("ab"),
        F.ceil(p).alias("ce"),
        F.floor(p).alias("fl"),
        F.round(F.pow(q, 2), 6).alias("p2"),
        F.round(F.sqrt(p), 6).alias("sq"),
        F.round(F.exp(-d), 6).alias("ex"),
        F.round(F.log(p), 6).alias("lg"),
        F.round(F.log10(p), 6).alias("lg10"),
        F.sign(d - 0.05).cast("int").alias("sg"),
        F.round(F.pmod(q, F.lit(7.0)), 6).alias("pm"),
        F.greatest(p, q * 1000).alias("gr"),
        F.least(p, q * 1000).alias("le"),
    )


# --------------------------------------------------------------------------
# F4 — array family (driven from documents tokens)
# --------------------------------------------------------------------------
@query(
    "fn_array",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
    SELECT doc_id,
           CAST(len(l) AS INT) AS n_tokens,
           list_contains(l, 'the') AS has_the,
           l[1] AS first_tok,
           l[-1] AS last_tok,
           array_to_string(list_slice(list_sort(l), 1, 5), ' ') AS sorted5,
           CAST(len(list_distinct(l)) AS INT) AS n_distinct,
           array_to_string(list_transform(list_slice(l, 1, 3), x -> upper(x)), ' ')
             AS upper3,
           CAST(len(list_filter(l, x -> length(x) > 4)) AS INT) AS n_long,
           CAST(list_sum(list_transform(l, x -> length(x))) AS BIGINT) AS total_chars,
           CAST(len(flatten([l, l])) AS INT) AS n_doubled
    FROM toks
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family (F4): size/contains/element_at/sort/distinct/
    slice/transform(λ)/filter(λ)/aggregate(λ)/flatten/array_join."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("l"))
    return toks.select(
        "doc_id",
        F.size("l").alias("n_tokens"),
        F.array_contains("l", "the").alias("has_the"),
        F.element_at("l", 1).alias("first_tok"),
        F.element_at("l", -1).alias("last_tok"),
        F.array_join(F.slice(F.sort_array("l"), 1, 5), " ").alias("sorted5"),
        F.size(F.array_distinct("l")).alias("n_distinct"),
        F.array_join(F.transform(F.slice("l", 1, 3), lambda x: F.upper(x)), " ").alias(
            "upper3"
        ),
        F.size(F.filter("l", lambda x: F.length(x) > 4)).alias("n_long"),
        F.aggregate(
            F.transform("l", lambda x: F.length(x).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
        F.size(F.flatten(F.array("l", "l"))).alias("n_doubled"),
    )


# --------------------------------------------------------------------------
# F5 — map/struct family
# --------------------------------------------------------------------------
@query(
    "fn_map",
    oracle="""
    SELECT event_id,
           map_keys(MAP([event_type], [value]))[1] AS mkey,
           MAP([event_type], [value])[event_type][1] AS mval,
           CAST(cardinality(MAP([event_type], [value])) AS INT) AS msize,
           struct_pack(t := event_type, v := value).t AS st,
           struct_pack(t := event_type, v := value).v AS sv
    FROM events
    """,
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map/struct family (F5): create_map, map_keys, element_at,
    map size, named_struct + field access."""
    ev = table(spark, sf_dir, "events")
    m = F.create_map(F.col("event_type"), F.col("value"))
    s = F.named_struct(F.lit("t"), F.col("event_type"), F.lit("v"), F.col("value"))
    return ev.select(
        "event_id",
        F.element_at(F.map_keys(m), 1).alias("mkey"),
        F.element_at(m, F.col("event_type")).alias("mval"),
        F.size(m).alias("msize"),
        s.getField("t").alias("st"),
        s.getField("v").alias("sv"),
    )


# --------------------------------------------------------------------------
# F6 — JSON family (events.props is a JSON string {"k": <int>})
# --------------------------------------------------------------------------
@query(
    "fn_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
           json_extract_string(props, '$.k') AS k_str,
           to_json(struct_pack(k := CAST(json_extract_string(props, '$.k') AS INT)))
             ::VARCHAR AS k_json
    FROM events
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family (F6): get_json_object, from_json, to_json."""
    ev = table(spark, sf_dir, "events")
    k_str = F.get_json_object("props", "$.k")
    k_from = F.from_json("props", "k INT").getField("k")
    return ev.select(
        "event_id",
        k_from.alias("k_int"),
        k_str.alias("k_str"),
        F.to_json(F.named_struct(F.lit("k"), k_from)).alias("k_json"),
    )


# --------------------------------------------------------------------------
# F7 — hash family (portable subset has an exact oracle)
# --------------------------------------------------------------------------
@query(
    "fn_hash",
    oracle="""
    SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256,
           length(text) AS n_chars_check
    FROM documents
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash family, portable subset (F7): md5 + sha256 over UTF-8."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("h_md5"),
        F.sha2(F.col("text"), 256).alias("h_sha256"),
        F.length("text").alias("n_chars_check"),
    )


@query("fn_hash_native")  # rows-only: Spark-specific hash functions
def fn_hash_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native hashes (F7 ⛔ subset): xxhash64/crc32/hash have no
    cross-engine oracle; rows-only check + unit-tested determinism."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.xxhash64("text").alias("h_xx64"),
        F.crc32("text").alias("h_crc32"),
        F.hash("text").alias("h_murmur"),
    )
