"""Contract keys: ``events_qini_curve``, ``graph_rich_club``, ``fn_regex``.

Qini uplift curve, rich-club coefficient, and
the regex function family.

Reference parity: the reference's uplift-evaluation, graph-topology
and string-function coverage — re-expressed as deterministic decile
rollups, a degree-thresholded subgraph density, and a row-local
regex battery.

Scale notes:

- ``events_qini_curve``: users rank by (score, user_id) — a total
  order, so deciles are identical cross-engine without ntile tie
  hazards; the curve is a window over 10 rows.
- ``graph_rich_club``: the only quadratic step is edges WITHIN the
  rich set (tiny by construction); density denominators are closed
  forms.
- ``fn_regex``: pure per-row expressions, no shuffle at all.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.graph import token_adjacency

# rich set = nodes with degree above the mean (data-adaptive threshold)


# --------------------------------------------------------------------------
# Qini curve: decile-ranked uplift of the hash-split "treatment"
# --------------------------------------------------------------------------
@query(
    "events_qini_curve",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(CASE WHEN ((user_id % 1000000007) * 2654435761) % 4294967296
                            >= 2147483648 THEN 1 ELSE 0 END AS INT) AS arm,
             CAST(count(*) AS BIGINT) AS activity,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS INT) AS converted
      FROM events GROUP BY user_id
    ),
    r AS (
      SELECT arm, activity, converted,
             row_number() OVER (ORDER BY activity DESC, user_id) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM u
    ),
    d AS (
      SELECT ((rk - 1) * 10) // n AS decile,
             arm, converted
      FROM r
    ),
    g AS (
      SELECT decile,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
             CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END)
                  AS BIGINT) AS conv_t,
             CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END)
                  AS BIGINT) AS conv_c
      FROM d GROUP BY decile
    ),
    c AS (
      SELECT decile, n_t, n_c, conv_t, conv_c,
             sum(CAST(conv_t AS DOUBLE)) OVER (ORDER BY decile) AS ct,
             sum(CAST(conv_c AS DOUBLE)) OVER (ORDER BY decile) AS cc,
             sum(CAST(n_t AS DOUBLE)) OVER (ORDER BY decile) AS nt,
             sum(CAST(n_c AS DOUBLE)) OVER (ORDER BY decile) AS nc
      FROM g
    )
    SELECT decile, n_t, n_c, conv_t, conv_c,
           CASE WHEN n_t > 0 AND n_c > 0
                THEN round(CAST(conv_t AS DOUBLE) / n_t
                           - CAST(conv_c AS DOUBLE) / n_c, 6) END AS uplift,
           CASE WHEN nc > 0
                THEN round(ct - cc * nt / nc, 6) END AS qini
    FROM c ORDER BY decile
    """,
)
def events_qini_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve of the hash-split A/B assignment, targeting by
    activity: users rank by total event count (total order via
    (activity desc, user_id) — no ntile tie hazard), split into
    deciles; per decile the treated-vs-control purchase-conversion
    uplift, cumulatively the Qini value ct − cc·nt/nc. On an A/A
    split the curve must hug zero — THE null check an uplift
    pipeline ships before anyone trusts a real campaign's curve.
    One user rollup + 10-row windows; integer counts → exact. Ref:
    reference uplift-eval tests (cf. events_ab_test for the global
    z, stats_cuped for variance reduction)."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("activity"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("int")
        .alias("converted"),
    ).select(
        "*",
        (
            (((F.col("user_id") % 1000000007) * 2654435761) % 4294967296 >= 2147483648)
            .cast("int")
        ).alias("arm"),
    )
    r = u.select(
        "arm",
        "converted",
        F.row_number()
        .over(W.orderBy(F.desc("activity"), "user_id"))
        .alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).cast("bigint").alias("n"),
    )
    d = r.select(
        F.floor(((F.col("rk") - 1) * 10) / F.col("n")).cast("bigint").alias(
            "decile"
        ),
        "arm",
        "converted",
    )
    g = d.groupBy("decile").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_t"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_c"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_t"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_c"),
    )
    wc = W.orderBy("decile")
    c = g.select(
        "*",
        F.sum(F.col("conv_t").cast("double")).over(wc).alias("ct"),
        F.sum(F.col("conv_c").cast("double")).over(wc).alias("cc"),
        F.sum(F.col("n_t").cast("double")).over(wc).alias("nt"),
        F.sum(F.col("n_c").cast("double")).over(wc).alias("nc"),
    )
    return c.select(
        "decile",
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        F.when(
            (F.col("n_t") > 0) & (F.col("n_c") > 0),
            F.round(
                F.col("conv_t").cast("double") / F.col("n_t")
                - F.col("conv_c").cast("double") / F.col("n_c"),
                6,
            ),
        ).alias("uplift"),
        F.when(
            F.col("nc") > 0,
            F.round(F.col("ct") - F.col("cc") * F.col("nt") / F.col("nc"), 6),
        ).alias("qini"),
    ).orderBy("decile")


# --------------------------------------------------------------------------
# Rich-club coefficient of the token-adjacency graph
# --------------------------------------------------------------------------
@query(
    "graph_rich_club",
    oracle=f"""
    WITH t AS (SELECT string_split(text, ' ') AS l FROM documents
               WHERE len(string_split(text, ' ')) >= 2),
    adj AS (
      SELECT least(l[i], l[i + 1]) AS a, greatest(l[i], l[i + 1]) AS b
      FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i FROM t)
      WHERE l[i] <> l[i + 1]
    ),
    edges AS (SELECT DISTINCT a, b FROM adj),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT a AS node FROM edges
            UNION ALL SELECT b AS node FROM edges)
      GROUP BY node
    ),
    thr AS (SELECT avg(CAST(d AS DOUBLE)) AS t FROM deg),
    sizes AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_nodes,
             CAST(sum(CASE WHEN d >= thr.t THEN 1 ELSE 0 END)
                  AS DOUBLE) AS n_rich
      FROM deg CROSS JOIN thr
    ),
    rich_edges AS (
      SELECT CAST(count(*) AS DOUBLE) AS m_rich
      FROM edges e
      JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
      CROSS JOIN thr
      WHERE da.d >= thr.t AND db.d >= thr.t
    ),
    all_edges AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM edges)
    SELECT CAST(s.n_nodes AS BIGINT) AS n_nodes,
           CAST(s.n_rich AS BIGINT) AS n_rich,
           CAST(a.m AS BIGINT) AS n_edges,
           CAST(r.m_rich AS BIGINT) AS rich_edges,
           CASE WHEN s.n_rich >= 2
                THEN round(r.m_rich / (s.n_rich * (s.n_rich - 1) / 2.0), 6)
           END AS rich_density,
           round(a.m / (s.n_nodes * (s.n_nodes - 1) / 2.0), 6)
             AS overall_density,
           CASE WHEN s.n_rich >= 2
                THEN round((r.m_rich / (s.n_rich * (s.n_rich - 1) / 2.0))
                           / (a.m / (s.n_nodes * (s.n_nodes - 1) / 2.0)), 6)
           END AS rich_club_ratio
    FROM sizes s CROSS JOIN rich_edges r CROSS JOIN all_edges a
    """,
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the token-adjacency graph: density
    of the subgraph induced by at-or-above-mean-degree nodes (>= so
    a regular graph keeps a well-defined rich set), relative to
    overall density. ratio ≫ 1 = hubs preferentially wire to each
    other (the small-world core that makes hub-removal
    catastrophic); ≈1 = degree explains nothing extra. Edges within
    the rich set come from two broadcast degree lookups — the
    quadratic denominator is a closed form, never a join. Integer
    counts and an exact mean threshold → bit-exact. Ref: reference
    graph-topology tests (cf. graph_assortativity — rich-club is its
    tail-focused sibling, positive ratio can coexist with negative
    global assortativity)."""
    docs = table(spark, sf_dir, "documents")
    # lazy localCheckpoint of the distinct edge list and the degree
    # rollup: edges is referenced by both degree union branches AND the
    # edge-classification join, deg by its aggregate and both broadcast
    # lookups — unmaterialized, every reference replayed the
    # token-adjacency explode + distinct (24 document scans in the
    # golden plan). Both frames are vocabulary-sized; a plain persist LOST
    # the alternating A/B here (cache build serializes the critical
    # path), the checkpoint won it.
    edges = token_adjacency(docs).localCheckpoint(eager=False)
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    ).localCheckpoint(eager=False)
    thr = deg.agg(F.avg(F.col("d").cast("double")).alias("t"))
    sizes = deg.crossJoin(F.broadcast(thr)).agg(
        F.count(F.lit(1)).cast("double").alias("n_nodes"),
        F.sum(F.when(F.col("d") >= F.col("t"), 1).otherwise(0))
        .cast("double")
        .alias("n_rich"),
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    rich_edges = (
        edges.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .crossJoin(F.broadcast(thr))
        .filter((F.col("da") >= F.col("t")) & (F.col("db") >= F.col("t")))
        .agg(F.count(F.lit(1)).cast("double").alias("m_rich"))
    )
    all_edges = edges.agg(F.count(F.lit(1)).cast("double").alias("m"))
    j = sizes.crossJoin(F.broadcast(rich_edges)).crossJoin(F.broadcast(all_edges))
    rich_density = F.col("m_rich") / (F.col("n_rich") * (F.col("n_rich") - 1) / 2.0)
    overall_density = F.col("m") / (F.col("n_nodes") * (F.col("n_nodes") - 1) / 2.0)
    return j.select(
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
        F.col("n_rich").cast("bigint").alias("n_rich"),
        F.col("m").cast("bigint").alias("n_edges"),
        F.col("m_rich").cast("bigint").alias("rich_edges"),
        F.when(F.col("n_rich") >= 2, F.round(rich_density, 6)).alias(
            "rich_density"
        ),
        F.round(overall_density, 6).alias("overall_density"),
        F.when(
            F.col("n_rich") >= 2, F.round(rich_density / overall_density, 6)
        ).alias("rich_club_ratio"),
    )


# --------------------------------------------------------------------------
# Regex function family battery over part names/types
# --------------------------------------------------------------------------
@query(
    "fn_regex",
    oracle=r"""
    SELECT p_partkey,
           regexp_matches(p_name, '^[a-z]+ ') AS starts_word,
           CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS BIGINT)
             AS vowel_runs,
           regexp_extract(p_type, '([A-Z]+)', 1) AS first_upper,
           regexp_replace(p_name, '\s+', '_', 'g') AS snake,
           CAST(regexp_matches(p_type, 'BRASS|STEEL') AS INT) AS is_metal,
           regexp_extract(p_name, '(\w+)$', 1) AS last_word
    FROM part WHERE p_partkey <= 200 ORDER BY p_partkey
    """,
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex function-family battery: anchored match test, global
    extract-all counting, group extraction, whitespace-to-snake
    global replace, alternation flags, and end-anchored capture —
    the six regex shapes an ETL user actually writes, each expressed
    with the SAME semantics on both engines (Spark regexp_replace is
    global by default; DuckDB needs the explicit 'g' flag — encoded
    here so the parity test enforces it). Pure row-local
    expressions, pushed-down key filter. Ref: reference
    string-function coverage (cf. fn_string, fn_string2, fn_url)."""
    pt = table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    return pt.select(
        "p_partkey",
        F.col("p_name").rlike("^[a-z]+ ").alias("starts_word"),
        F.size(F.expr(r"regexp_extract_all(p_name, '[aeiou]+', 0)"))
        .cast("bigint")
        .alias("vowel_runs"),
        F.regexp_extract("p_type", "([A-Z]+)", 1).alias("first_upper"),
        F.regexp_replace("p_name", r"\s+", "_").alias("snake"),
        F.col("p_type").rlike("BRASS|STEEL").cast("int").alias("is_metal"),
        F.regexp_extract("p_name", r"(\w+)$", 1).alias("last_word"),
    ).orderBy("p_partkey")
