"""Contract keys: ``graph_triangles``, ``events_streaks``,
``agg_quantiles``, ``llm_char_entropy``, ``llm_prefix_dups``,
``events_ewma_state``.

Graph triangle counting and activity streaks.

Both are join/window dataflows with exact DuckDB oracles — no
iteration, no driver state.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.textops import shingles, tokens
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

TRI_TOP = 60  # graph restricted to the top-N tokens by frequency


# --------------------------------------------------------------------------
# Graph — triangle counting over the token co-occurrence graph
# --------------------------------------------------------------------------
@query(
    "graph_triangles",
    oracle=f"""
    WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
    bg AS (SELECT unnest(list_transform(
               generate_series(1, greatest(len(l) - 1, 1)),
               i -> concat_ws(' ', l[i], l[i+1]))) AS bg FROM t),
    pr AS (SELECT split_part(bg, ' ', 1) AS u, split_part(bg, ' ', 2) AS v
           FROM bg WHERE split_part(bg, ' ', 2) <> ''),
    toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    top AS (SELECT tok FROM (
              SELECT tok, count(*) AS c FROM toks GROUP BY tok
              ORDER BY c DESC, tok LIMIT {TRI_TOP})),
    e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM pr
          WHERE u <> v AND u IN (SELECT tok FROM top)
                       AND v IN (SELECT tok FROM top)),
    tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM e e1
            JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    roles AS (SELECT a AS node FROM tri UNION ALL
              SELECT b FROM tri UNION ALL
              SELECT c FROM tri)
    SELECT node, count(*) AS n_tri FROM roles GROUP BY node
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the (top-{60}-token) co-occurrence
    graph — the clustering-coefficient numerator used for community/
    spam structure detection. The a<b<c orientation makes each
    triangle enumerate exactly once, so the count is two self-joins on
    an edge list that is already deduped and bounded; at 100 TB the
    same orientation trick keeps the join sizes |E|·avg-degree, and
    the node filter becomes a degree threshold instead of top-N."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(tokens("text").alias("l"))
    pr = (
        t.select(F.explode(shingles("l", 2)).alias("bg"))
        .select(
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("u"),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("v"),
        )
        .filter((F.col("v") != "") & (F.col("u") != F.col("v")))
    )
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(TRI_TOP)
        .select("tok")
    )
    # persist: the triangle join references the edge list three times
    # and the role union multiplies that by three — unpersisted, the
    # bigram explode over documents replayed 9× (27 scans counted in
    # the golden plan, r10). ≤ C(TRI_TOP, 2) rows.
    e = (
        pr.join(F.broadcast(top), pr.u == top.tok).drop("tok")
        .join(F.broadcast(top), pr.v == top.tok).drop("tok")
        .select(
            F.least("u", "v").alias("u"),
            F.greatest("u", "v").alias("v"),
        )
        .distinct()
    ).transform(persist_tracked)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    ).transform(persist_tracked)  # three role-union branches consume it
    roles = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return roles.groupBy("node").agg(F.count("*").alias("n_tri"))


# --------------------------------------------------------------------------
# Event analytics — longest same-type activity streak per user
# --------------------------------------------------------------------------
@query(
    "events_streaks",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             date_trunc('second', ts) AS tts, event_id,
             CASE WHEN event_type IS DISTINCT FROM
                  lag(event_type) OVER (
                    PARTITION BY user_id
                    ORDER BY date_trunc('second', ts), event_id)
                  THEN 1 ELSE 0 END AS brk
      FROM events),
    x AS (
      SELECT user_id, event_type,
             sum(brk) OVER (PARTITION BY user_id ORDER BY tts, event_id
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM seq),
    lens AS (SELECT user_id, island, count(*) AS len
             FROM x GROUP BY user_id, island)
    SELECT user_id,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM lens GROUP BY user_id
    """,
)
def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest same-event-type run per user (gaps-and-islands): a
    change flag via lag, a running sum to number islands, then two
    bounded aggregations. All windows hash-partition on user_id —
    state bounded by one user's history, never the table."""
    ev = table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    wo = W.partitionBy("user_id").orderBy("tts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "tts",
        "event_id",
        F.when(
            ~F.col("event_type").eqNullSafe(
                F.lag("event_type").over(wo)
            ),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    x = seq.select(
        "user_id",
        "event_type",
        F.sum("brk").over(wo.rowsBetween(W.unboundedPreceding, W.currentRow)).alias(
            "island"
        ),
    )
    lens = x.groupBy("user_id", "island").agg(F.count("*").alias("len"))
    return lens.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
    )


# --------------------------------------------------------------------------
# A11 — multi-quantile aggregation (exact interpolated percentiles)
# --------------------------------------------------------------------------
@query(
    "agg_quantiles",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.25), 6) AS q25,
           round(quantile_cont(o_totalprice, 0.50), 6) AS q50,
           round(quantile_cont(o_totalprice, 0.75), 6) AS q75,
           round(quantile_cont(o_totalprice, 0.95), 6) AS q95
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-quantile profile per group: one sort per group
    serves all four interpolated percentiles (Spark's percentile
    aggregate == DuckDB's quantile_cont — identical linear
    interpolation on the same doubles)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("q25"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 6).alias("q50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 6).alias("q75"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 6).alias("q95"),
    )


# --------------------------------------------------------------------------
# L4 — per-document character entropy (gibberish/compression signal)
# --------------------------------------------------------------------------
@query(
    "llm_char_entropy",
    oracle="""
    WITH ch AS (SELECT doc_id, unnest(string_split(replace(text, ' ', ''), ''))
                       AS c
                FROM documents),
    d AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c),
    tot AS (SELECT doc_id, sum(n) AS nt FROM d GROUP BY doc_id)
    SELECT d.doc_id,
           round(-sum((CAST(n AS DOUBLE) / nt) * ln(CAST(n AS DOUBLE) / nt))
                 / ln(2), 6) AS char_entropy_bits,
           CAST(count(*) AS BIGINT) AS n_distinct_chars
    FROM d JOIN tot ON tot.doc_id = d.doc_id
    GROUP BY d.doc_id
    """,
)
def llm_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the character distribution (bits):
    low entropy flags repeated/templated gibberish, high flags
    base64-ish noise — a standard cheap quality gate. One explode +
    two doc-keyed hash aggs; doc_id shuffles are uniform."""
    docs = table(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id",
        F.explode(
            F.split(F.regexp_replace(F.col("text"), " ", ""), "")
        ).alias("c"),
    ).filter(F.col("c") != "")
    d = ch.groupBy("doc_id", "c").agg(F.count("*").alias("n"))
    tot = d.groupBy("doc_id").agg(F.sum("n").alias("nt"))
    p = F.col("n").cast("double") / F.col("nt")
    return (
        d.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.round((-F.sum(p * F.log(p))) / F.log(F.lit(2.0)), 6).alias(
                "char_entropy_bits"
            ),
            F.count("*").alias("n_distinct_chars"),
        )
    )


# --------------------------------------------------------------------------
# L2e — boilerplate prefix duplicates
# --------------------------------------------------------------------------
@query(
    "llm_prefix_dups",
    oracle="""
    WITH pre AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(string_split(text, ' '), 1, 16),
                 ' ')) AS prefix_hash
      FROM documents)
    SELECT prefix_hash, count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keep_doc
    FROM pre GROUP BY prefix_hash HAVING count(*) > 1
    """,
)
def llm_prefix_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-opening detection: hash of the first 16 tokens groups
    documents with identical openings (boilerplate headers, template
    spam) that full-document dedup misses. md5 keeps the oracle exact;
    the keep_doc column is the dedup survivor policy (min doc_id)."""
    docs = table(spark, sf_dir, "documents")
    pre = docs.select(
        "doc_id",
        F.md5(
            F.array_join(F.slice(tokens("text"), 1, 16), " ")
        ).alias("prefix_hash"),
    )
    return (
        pre.groupBy("prefix_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc"))
        .filter(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# T6b — full-history EWMA state (batch analog of the stateful stream)
# --------------------------------------------------------------------------
@query(
    "events_ewma_state",
    oracle="""
    WITH ordered AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id) AS rn
      FROM events),
    arrs AS (SELECT user_id, list(value ORDER BY rn) AS vals
             FROM ordered GROUP BY user_id)
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           floor(list_reduce(vals, (acc, x) -> acc * 0.7 + x * 0.3)
                 * 1000000 + 0.5) / 1000000 AS ewma
    FROM arrs
    """,
)
def events_ewma_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final full-history EWMA per user — the batch analog of the
    per-key state a streaming job carries in applyInPandasWithState
    (tests/test_round2.py proves the stream converges to exactly
    this). One ordered collect per user (state bounded by one user's
    history), strict-fold recurrence, tie-safe quantization."""
    ev = table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    arrs = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("tts", "event_id", "value"))
        ).alias("sv")
    )
    vals = F.col("sv.value")
    ewma = F.aggregate(
        F.slice(vals, 2, F.size(vals) - 1),
        F.element_at(vals, 1).cast("double"),
        lambda acc, x: acc * F.lit(0.7) + x * F.lit(0.3),
    )
    return arrs.select(
        "user_id",
        F.size(vals).cast("bigint").alias("n_events"),
        (F.floor(ewma * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)).alias(
            "ewma"
        ),
    )
