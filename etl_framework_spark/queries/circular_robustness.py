"""Contract keys: ``stats_circular_stats``, ``graph_attack_robustness``,
``llm_source_similarity_matrix``.

Circular statistics, hub-attack robustness,
and the source-similarity matrix.

Reference parity: the reference's time-of-day geometry, its graph
robustness scan, and its provenance-clustering signal —
re-expressed as cos/sin resultants, degree-thresholded edge
survival, and pairwise Jensen-Shannon over source unigram profiles.

Scale notes:

- ``stats_circular_stats``: two trig sums per event type.
- ``graph_attack_robustness``: one degree rollup; each threshold is
  a conditional count over edges with broadcast degrees.
- ``llm_source_similarity_matrix``: profiles are (source, token)
  rollups; the pair join is |sources|² × vocabulary — both tiny.
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.graph import token_adjacency

_PI = math.pi
_DEG_CUTS = [0.5, 0.7, 0.9, 1.0]  # fractions of max degree
_SRC_TOP = 10


# --------------------------------------------------------------------------
# Circular statistics of event time-of-day per event type
# --------------------------------------------------------------------------
@query(
    "stats_circular_stats",
    oracle=f"""
    WITH e AS (
      SELECT event_type,
             (CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT)
              % 86400) / 86400.0 * 2 * {_PI!r} AS theta
      FROM events
    ),
    g AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
             sum(cos(theta)) AS sc, sum(sin(theta)) AS ss
      FROM e GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           floor((CASE WHEN atan2(ss, sc) < 0
                       THEN atan2(ss, sc) + 2 * {_PI!r}
                       ELSE atan2(ss, sc) END) / (2 * {_PI!r}) * 24
                 * 10000 + 0.5) / 10000 AS mean_hour,
           floor(sqrt(sc * sc + ss * ss) / n * 1000000 + 0.5) / 1000000
             AS resultant_r,
           floor(n * (sc * sc + ss * ss) / (n * n) * 10000 + 0.5) / 10000
             AS rayleigh_z
    FROM g ORDER BY event_type
    """,
)
def stats_circular_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular statistics of event time-of-day per type: seconds
    since midnight mapped to an angle, mean direction converted back
    to a MEAN HOUR (the average of 23:00 and 01:00 is midnight, not
    noon — linear means get this wrong), resultant length R
    (concentration: 0 = uniform around the clock, 1 = a single
    spike) and the Rayleigh z = nR² uniformity test. The correct
    way to ask 'when does this event type happen'. Two trig sums
    per type. Ref: reference temporal-geometry tests (cf.
    events_hour_dow_profile — histogram view; this is its
    parametric summary)."""
    ev = table(spark, sf_dir, "events")
    theta = (
        (F.unix_timestamp(F.date_trunc("second", F.col("ts"))).cast("bigint") % 86400)
        / 86400.0
        * 2
        * _PI
    )
    g = ev.select("event_type", theta.alias("theta")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.cos("theta")).alias("sc"),
        F.sum(F.sin("theta")).alias("ss"),
    )
    ang = F.atan2(F.col("ss"), F.col("sc"))
    ang = F.when(ang < 0, ang + 2 * _PI).otherwise(ang)
    r2 = F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")
    return g.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        (F.floor(ang / (2 * _PI) * 24 * 10000.0 + 0.5) / 10000.0).alias(
            "mean_hour"
        ),
        (F.floor(F.sqrt(r2) / F.col("n") * 1000000.0 + 0.5) / 1000000.0).alias(
            "resultant_r"
        ),
        (
            F.floor(F.col("n") * r2 / (F.col("n") * F.col("n")) * 10000.0 + 0.5)
            / 10000.0
        ).alias("rayleigh_z"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Attack robustness: edges surviving removal of high-degree hubs
# --------------------------------------------------------------------------
@query(
    "graph_attack_robustness",
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
    dmax AS (SELECT CAST(max(d) AS DOUBLE) AS dm FROM deg),
    cuts AS (
      SELECT DISTINCT CAST(floor(q * dm) AS BIGINT) AS max_deg
      FROM dmax CROSS JOIN
           (SELECT unnest([{", ".join(str(c) for c in _DEG_CUTS)}]) AS q)
    ),
    surv AS (
      SELECT c.max_deg,
             CAST(count(CASE WHEN da.d <= c.max_deg AND db.d <= c.max_deg
                             THEN 1 END) AS BIGINT) AS edges_left
      FROM cuts c
      CROSS JOIN edges e
      JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
      GROUP BY c.max_deg
    ),
    tot AS (
      SELECT CAST(count(*) AS DOUBLE) AS m FROM edges
    ),
    nodes AS (
      SELECT c.max_deg,
             CAST(count(CASE WHEN deg.d <= c.max_deg THEN 1 END) AS BIGINT)
               AS nodes_left
      FROM cuts c CROSS JOIN deg GROUP BY c.max_deg
    )
    SELECT s.max_deg, n.nodes_left, s.edges_left,
           round(s.edges_left / tot.m, 6) AS edge_survival
    FROM surv s JOIN nodes n ON s.max_deg = n.max_deg CROSS JOIN tot
    ORDER BY s.max_deg
    """,
)
def graph_attack_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted-attack robustness of the token graph: remove every
    node with degree above a cutoff (50/70/90/100% of the max
    degree, data-adaptive) and count surviving
    nodes and edges. A steep edge-survival collapse at high cutoffs
    = hub-dominated connectivity (scale-free fragility); a gentle
    slope = distributed structure. The degree rollup happens once;
    each cutoff is a conditional count with broadcast degrees —
    never a recomputed graph. Integer counts → exact. Ref:
    reference robustness tests (cf. graph_rich_club for who the
    hubs wire to, graph_kcore_peel for the nested-shell view)."""
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
    dmax = deg.agg(F.max("d").cast("double").alias("dm"))
    qs = spark.range(len(_DEG_CUTS)).select(
        F.element_at(
            F.array(*[F.lit(c) for c in _DEG_CUTS]), (F.col("id") + 1).cast("int")
        ).alias("q")
    )
    cuts = (
        qs.crossJoin(F.broadcast(dmax))
        .select(
            F.floor(F.col("q") * F.col("dm")).cast("bigint").alias("max_deg")
        )
        .distinct()
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    ed = edges.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    surv = (
        ed.crossJoin(F.broadcast(cuts))
        .groupBy("max_deg")
        .agg(
            F.count(
                F.when(
                    (F.col("da") <= F.col("max_deg"))
                    & (F.col("db") <= F.col("max_deg")),
                    1,
                )
            )
            .cast("bigint")
            .alias("edges_left")
        )
    )
    nodes = (
        deg.crossJoin(F.broadcast(cuts))
        .groupBy("max_deg")
        .agg(
            F.count(F.when(F.col("d") <= F.col("max_deg"), 1))
            .cast("bigint")
            .alias("nodes_left")
        )
    )
    tot = edges.agg(F.count(F.lit(1)).cast("double").alias("m"))
    j = surv.join(nodes, "max_deg").crossJoin(F.broadcast(tot))
    return j.select(
        "max_deg",
        "nodes_left",
        "edges_left",
        F.round(F.col("edges_left") / F.col("m"), 6).alias("edge_survival"),
    ).orderBy("max_deg")


# --------------------------------------------------------------------------
# Source similarity matrix: top pairs by unigram Jensen-Shannon
# --------------------------------------------------------------------------
@query(
    "llm_source_similarity_matrix",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tk FROM documents
    ),
    prof AS (
      SELECT source, tk, CAST(count(*) AS DOUBLE) AS c FROM tok
      GROUP BY source, tk
    ),
    tot AS (SELECT source, sum(c) AS t FROM prof GROUP BY source),
    p AS (
      SELECT prof.source, prof.tk, prof.c / tot.t AS p
      FROM prof JOIN tot ON prof.source = tot.source
    ),
    srcs AS (SELECT DISTINCT source FROM prof),
    vocab AS (SELECT DISTINCT tk FROM prof),
    grid AS (
      SELECT x.source AS s1, y.source AS s2, v.tk
      FROM srcs x JOIN srcs y ON x.source < y.source CROSS JOIN vocab v
    ),
    pairs AS (
      SELECT g.s1, g.s2,
             coalesce(a.p, 0) AS pa, coalesce(b.p, 0) AS pb
      FROM grid g
      LEFT JOIN p a ON a.source = g.s1 AND a.tk = g.tk
      LEFT JOIN p b ON b.source = g.s2 AND b.tk = g.tk
    ),
    js AS (
      SELECT s1, s2,
             sum(CASE WHEN pa > 0
                      THEN 0.5 * pa * ln(pa / ((pa + pb) / 2)) ELSE 0 END
               + CASE WHEN pb > 0
                      THEN 0.5 * pb * ln(pb / ((pa + pb) / 2)) ELSE 0 END)
               AS jsd
      FROM pairs GROUP BY s1, s2
    )
    SELECT s1 AS source_1, s2 AS source_2,
           floor(jsd * 1000000 + 0.5) / 1000000 AS js_divergence
    FROM js ORDER BY jsd, s1, s2 LIMIT {_SRC_TOP}
    """,
)
def llm_source_similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance clustering signal: Jensen-Shannon divergence
    between every pair of source unigram profiles, the 10 MOST
    similar pairs — near-zero JSD between two 'different' sources
    means the same upstream crawl was ingested twice under two
    names (a mix-weighting bug waiting to happen). The oracle is the
    dense-grid SPEC; the Spark plan is the SPARSE form: only tokens
    present in BOTH sources of a pair contribute a data-dependent
    term (shuffle equi-join of the profile with itself on tk — no
    vocab-sized broadcast, no source-pair × vocab grid), and the
    one-sided remainder has the closed form 0.5·ln2·(2-Σpa-Σpb)
    because each profile sums to 1. Pairs sharing zero tokens get
    JSD = ln2 via a left join from the (tiny) source-pair list.
    Scale: profile join shuffles on tk, per-token cost is (#sources
    having tk)² — bounded by the source count, never by vocab. Ref:
    reference provenance-audit tests (cf. llm_js_divergence for one
    pair, llm_source_exclusive_vocab for the complement view)."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tk")
    )
    prof = tok.groupBy("source", "tk").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    tot = prof.groupBy("source").agg(F.sum("c").alias("t"))
    p = prof.join(F.broadcast(tot), "source").select(
        "source", "tk", (F.col("c") / F.col("t")).alias("p")
    )
    srcs = prof.select("source").distinct()
    a = p.select(F.col("source").alias("s1"), "tk", F.col("p").alias("pa"))
    b = p.select(F.col("source").alias("s2"), "tk", F.col("p").alias("pb"))
    # sparse path: shuffle equi-join on tk pairs only CO-OCCURRING
    # tokens; one-sided mass is reconstructed in closed form below
    both = a.join(b, "tk").filter(F.col("s1") < F.col("s2"))
    m = (F.col("pa") + F.col("pb")) / 2
    term = 0.5 * F.col("pa") * F.log(F.col("pa") / m) + 0.5 * F.col(
        "pb"
    ) * F.log(F.col("pb") / m)
    co = both.groupBy("s1", "s2").agg(
        F.sum(term).alias("t_both"),
        F.sum("pa").alias("ca"),
        F.sum("pb").alias("cb"),
    )
    grid = srcs.select(F.col("source").alias("s1")).join(
        srcs.select(F.col("source").alias("s2")), F.col("s1") < F.col("s2")
    )
    ln2 = math.log(2.0)
    js = grid.join(co, ["s1", "s2"], "left").select(
        "s1",
        "s2",
        (
            F.coalesce(F.col("t_both"), F.lit(0.0))
            + 0.5
            * ln2
            * (
                2.0
                - F.coalesce(F.col("ca"), F.lit(0.0))
                - F.coalesce(F.col("cb"), F.lit(0.0))
            )
        ).alias("jsd"),
    )
    return (
        js.select(
            F.col("s1").alias("source_1"),
            F.col("s2").alias("source_2"),
            (F.floor(F.col("jsd") * 1000000.0 + 0.5) / 1000000.0).alias(
                "js_divergence"
            ),
            F.col("jsd").alias("_j"),
        )
        .orderBy("_j", "source_1", "source_2")
        .limit(_SRC_TOP)
        .drop("_j")
    )
