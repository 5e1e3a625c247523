"""Contract keys: ``llm_quality_ensemble``, ``stats_hill_tail``,
``graph_assortativity``.

Multi-rater quality agreement, heavy-tail index
estimation, and graph assortativity.

Reference parity: the reference's ensemble quality gate, its tail-
risk estimator, and its graph mixing statistics — re-expressed as
exact integer agreement arithmetic, top-k log-ratio aggregation, and
degree-join correlation.

Scale notes:

- ``llm_quality_ensemble``: all three signals are row-local
  expressions (no explode); Fleiss' kappa needs only the per-doc
  agree-count histogram — integer arithmetic, one rollup.
- ``stats_hill_tail``: the Hill estimator touches only each group's
  top k+1 values — a per-group window rank prunes everything else
  before the log-ratio aggregation (at 100 TB: per-partition top-k
  preselection shrinks the sort input, cf. topk_two_phase).
- ``graph_assortativity``: degrees are one rollup of the edge list;
  the edge-end degree pairing is two broadcast joins back onto the
  (small) projected edge set; the coefficient is a Pearson closed
  form over the doubled orientation list.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import guarded
from etl_framework_spark.operators.graph import co_occurrence_pairs
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

_HILL_K = 100


# --------------------------------------------------------------------------
# Fleiss' kappa over three document-quality raters
# --------------------------------------------------------------------------
@query(
    "llm_quality_ensemble",
    oracle="""
    WITH r AS (
      SELECT (CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1 ELSE 0 END
              + CASE WHEN CAST(len(list_distinct(string_split(text, ' ')))
                           AS DOUBLE)
                          / len(string_split(text, ' ')) > 0.5
                     THEN 1 ELSE 0 END
              + CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE)
                          / len(string_split(text, ' '))
                          BETWEEN 3 AND 8
                     THEN 1 ELSE 0 END) AS votes
      FROM documents
    ),
    h AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             sum(CAST(votes * (votes - 1)
                      + (3 - votes) * (2 - votes) AS DOUBLE) / 6.0)
               AS agree_sum,
             sum(CAST(votes AS DOUBLE)) / (3.0 * count(*)) AS p_pass,
             CAST(count(*) FILTER (votes >= 2) AS BIGINT) AS n_majority_pass,
             CAST(count(*) FILTER (votes IN (0, 3)) AS BIGINT) AS n_unanimous
      FROM r
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           n_majority_pass, n_unanimous,
           round(p_pass, 6) AS p_pass,
           round(agree_sum / n_docs, 6) AS p_observed,
           round(p_pass * p_pass + (1 - p_pass) * (1 - p_pass), 6)
             AS p_expected,
           round((agree_sum / n_docs
                  - (p_pass * p_pass + (1 - p_pass) * (1 - p_pass)))
                 / (1 - (p_pass * p_pass + (1 - p_pass) * (1 - p_pass))), 6)
             AS fleiss_kappa
    FROM h
    """,
)
def llm_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three cheap quality 'raters' — length sanity, unique-word
    ratio, mean word length — vote on every document, and Fleiss'
    kappa says whether they AGREE more than chance (κ≈0 means the
    signals are independent filters worth keeping; κ≈1 means they're
    redundant). Per-doc pairwise agreement is the exact integer form
    (votes·(votes−1) + (3−votes)·(2−votes))/6, so the whole statistic
    is one row-local pass + one rollup. Majority-pass and unanimous
    counts ride along for the gate decision. Ref: reference
    ensemble-gate tests (cf. llm_quality_filter, stats_cohens_kappa)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok
    awl = F.length(F.regexp_replace("text", " ", "")).cast("double") / n_tok
    votes = (
        F.when(F.col("n_chars").between(100, 400), 1).otherwise(0)
        + F.when(uniq_ratio > 0.5, 1).otherwise(0)
        + F.when(awl.between(3, 8), 1).otherwise(0)
    )
    r = docs.select(votes.alias("votes"))
    h = r.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum(
            (
                F.col("votes") * (F.col("votes") - 1)
                + (3 - F.col("votes")) * (2 - F.col("votes"))
            ).cast("double")
            / 6.0
        ).alias("agree_sum"),
        (F.sum(F.col("votes").cast("double")) / (3.0 * F.count(F.lit(1)))).alias(
            "p_pass"
        ),
        F.count(F.when(F.col("votes") >= 2, 1))
        .cast("bigint")
        .alias("n_majority_pass"),
        F.count(F.when(F.col("votes").isin(0, 3), 1))
        .cast("bigint")
        .alias("n_unanimous"),
    )
    pe = F.col("p_pass") * F.col("p_pass") + (1 - F.col("p_pass")) * (
        1 - F.col("p_pass")
    )
    po = F.col("agree_sum") / F.col("n_docs")
    return h.select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "n_majority_pass",
        "n_unanimous",
        F.round("p_pass", 6).alias("p_pass"),
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round((po - pe) / (1 - pe), 6).alias("fleiss_kappa"),
    )


# --------------------------------------------------------------------------
# Hill tail-index estimator over event values
# --------------------------------------------------------------------------
@query(
    "stats_hill_tail",
    oracle=f"""
    WITH pos AS (
      SELECT event_type, value, event_id FROM events WHERE value > 0
    ),
    ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rk
      FROM pos
    ),
    topk AS (SELECT * FROM ranked WHERE rk <= {_HILL_K} + 1),
    s AS (
      SELECT event_type,
             min(CASE WHEN rk = {_HILL_K} + 1 THEN value END) AS x_tail,
             avg(CASE WHEN rk <= {_HILL_K} THEN ln(value) END) AS mean_ln_top,
             CAST(count(*) FILTER (rk <= {_HILL_K}) AS BIGINT) AS k_used
      FROM topk GROUP BY event_type
    )
    SELECT event_type, k_used,
           round(x_tail, 6) AS tail_threshold,
           round(mean_ln_top - ln(x_tail), 6) AS hill_h,
           round(1.0 / (mean_ln_top - ln(x_tail)), 6) AS hill_alpha
    FROM s WHERE x_tail IS NOT NULL
    """,
)
def stats_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the heavy-tail index per event type:
    α̂ = 1/(mean(ln x₍₁..k₎) − ln x₍k+1₎) over the k=100 largest
    positive values — α < 2 warns that variance-based stats (and
    naive mean SEs) are unreliable for this stream. Only the top
    k+1 values per group survive the window rank, so at 100 TB the
    shuffle is the per-partition top-k preselection, never the raw
    values. Deterministic (value DESC, event_id) ranking. Ref:
    reference tail-risk tests (cf. llm_zipf_fit for the rank-
    frequency twin)."""
    ev = table(spark, sf_dir, "events").filter(F.col("value") > 0)
    wk = W.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    ranked = ev.select(
        "event_type", "value", F.row_number().over(wk).alias("rk")
    ).filter(F.col("rk") <= _HILL_K + 1)
    s = ranked.groupBy("event_type").agg(
        F.min(F.when(F.col("rk") == _HILL_K + 1, F.col("value"))).alias("x_tail"),
        F.avg(F.when(F.col("rk") <= _HILL_K, F.log("value"))).alias(
            "mean_ln_top"
        ),
        F.count(F.when(F.col("rk") <= _HILL_K, 1)).cast("bigint").alias("k_used"),
    ).filter(F.col("x_tail").isNotNull())
    h = F.col("mean_ln_top") - F.log("x_tail")
    return s.select(
        "event_type",
        "k_used",
        F.round("x_tail", 6).alias("tail_threshold"),
        F.round(h, 6).alias("hill_h"),
        F.round(1.0 / h, 6).alias("hill_alpha"),
    )


# --------------------------------------------------------------------------
# Degree assortativity of the co-supplier graph
# --------------------------------------------------------------------------
_ASSORT_COLLECT_CAP = 2_000_000  # sparsified (u, v) edge rows; ~32 MB
# of two int64 columns via Arrow


@query(
    "graph_assortativity",
    oracle=f"""
    WITH e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    pdeg AS MATERIALIZED (
      SELECT p FROM (SELECT p, count(*) AS d FROM e0 GROUP BY p)
      WHERE d BETWEEN 2 AND 200
    ),
    w0 AS (
      SELECT a.s AS u, b.s AS v, CAST(count(*) AS DOUBLE) AS c
      FROM e0 a JOIN e0 b ON a.p = b.p AND a.s < b.s
      WHERE a.p IN (SELECT p FROM pdeg)
      GROUP BY u, v
    ),
    thr AS (SELECT quantile_cont(c, 0.9) AS t FROM w0),
    w AS (SELECT u, v FROM w0, thr WHERE c > t),
    deg AS (
      SELECT n, CAST(count(*) AS DOUBLE) AS d FROM (
        SELECT u AS n FROM w UNION ALL SELECT v AS n FROM w
      ) GROUP BY n
    ),
    ends AS (
      SELECT du.d AS dx, dv.d AS dy
      FROM w JOIN deg du ON w.u = du.n JOIN deg dv ON w.v = dv.n
      UNION ALL
      SELECT dv.d AS dx, du.d AS dy
      FROM w JOIN deg du ON w.u = du.n JOIN deg dv ON w.v = dv.n
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n2,
             avg(dx) AS mx, avg(dy) AS my,
             avg(dx * dy) AS mxy, avg(dx * dx) AS mxx, avg(dy * dy) AS myy
      FROM ends
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           CAST(n2 / 2 AS BIGINT) AS n_edges,
           round((SELECT avg(d) FROM deg), 6) AS mean_degree,
           round(CASE WHEN (mxx - mx * mx) * (myy - my * my) > 0
                      THEN (mxy - mx * my)
                           / sqrt((mxx - mx * mx) * (myy - my * my))
                      ELSE 0.0 END, 6) AS assortativity
    FROM m
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-supplier graph, sparsified to
    the top decile of shared-part counts (the synthetic bipartite
    graph is complete, so the INTERESTING structure lives in the
    heaviest edges — a quantile threshold adapts to any scale):
    the Pearson correlation of degrees across
    edge ends, computed over both orientations — positive means hubs
    link to hubs (resilient core), negative means hub-and-spoke
    (fragile). Degrees are one rollup of the projected edge list; the
    end-pairing is two joins back onto the small edge set; the
    coefficient is the same moment closed form as stats_simpsons.
    Ref: reference graph-mixing tests (cf. graph_degree_hist,
    graph_bipartite_weights)."""
    li = table(spark, sf_dir, "lineitem")
    # One-shuffle pair build shared with graph_kcore_peel (r7): the
    # degree cap is mirrored in the oracle's pdeg CTE. w0 persists
    # (read twice: quantile + filter); the tiny sparsified edge set
    # localCheckpoints because deg and the end-pairing re-read it —
    # unpersisted, the whole pair build replayed once per consumer.
    w0 = co_occurrence_pairs(
        li, "l_partkey", "l_suppkey", max_group_degree=200
    ).transform(persist_tracked)
    thr = w0.agg(F.percentile("c", 0.9).alias("t"))
    # r12 (guide §1.2): the pair build + percentile is the measured
    # floor (3.9 of 4.75 s at sf0.1); everything downstream of the
    # sparsified edge set (degree rollup, two broadcast joins, two
    # moment aggregations) ran as 4+ more tiny jobs on a ~40k-row
    # frame. Collect the edge set ONCE under a capped guard and fold
    # the moments in-process with EXACT integer sums (degrees and
    # their products are integers, so Python's arbitrary-precision
    # accumulation is at least as accurate as any double sum order);
    # the division/sqrt/round stay Spark expressions so final-digit
    # semantics are unchanged. Both orientations of each edge are
    # folded symmetrically (mx==my, mxx==myy by construction).
    # Alternating A/B at sf0.1: wins every pair, 13.19 → 9.64 s
    # medians on a loaded box (~0.9 s on quiet runs).
    edge_rows = guarded.collect_capped(
        w0.crossJoin(F.broadcast(thr))
        .filter(F.col("c") > F.col("t"))
        .select("u", "v"),
        _ASSORT_COLLECT_CAP,
    )
    if edge_rows is not None:
        w0.unpersist()
        us = edge_rows.column("u").to_pylist()
        vs = edge_rows.column("v").to_pylist()
        deg: dict = {}
        for u, v in zip(us, vs):
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        n2 = 2 * len(us)
        sx = sxy = sxx = 0
        for u, v in zip(us, vs):
            du, dv = deg[u], deg[v]
            sx += du + dv
            sxy += 2 * du * dv
            sxx += du * du + dv * dv
        row = guarded.local_frame(
            spark,
            [
                (
                    float(n2),
                    float(sx),
                    float(sxy),
                    float(sxx),
                    len(deg),
                    float(sum(deg.values())),
                )
            ],
            "n2 double, sx double, sxy double, sxx double,"
            " n_nodes bigint, sum_d double",
        )
        mx = F.col("sx") / F.col("n2")
        mxy = F.col("sxy") / F.col("n2")
        mxx = F.col("sxx") / F.col("n2")
        vp = (mxx - mx * mx) * (mxx - mx * mx)
        r0 = F.when(vp > 0, (mxy - mx * mx) / F.sqrt(vp)).otherwise(
            F.lit(0.0)
        )
        return row.select(
            "n_nodes",
            (F.col("n2") / 2).cast("bigint").alias("n_edges"),
            F.round(F.col("sum_d") / F.col("n_nodes"), 6).alias(
                "mean_degree"
            ),
            F.round(r0, 6).alias("assortativity"),
        )
    w = (
        w0.crossJoin(F.broadcast(thr))
        .filter(F.col("c") > F.col("t"))
        .select("u", "v")
        .coalesce(1)
        .localCheckpoint()
    )
    w0.unpersist()
    deg = (
        w.select(F.col("u").alias("n"))
        .unionAll(w.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("d_u"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("d_v"))
    paired = w.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    ends = paired.select(
        F.col("d_u").alias("dx"), F.col("d_v").alias("dy")
    ).unionAll(paired.select(F.col("d_v").alias("dx"), F.col("d_u").alias("dy")))
    m = ends.agg(
        F.count(F.lit(1)).cast("double").alias("n2"),
        F.avg("dx").alias("mx"),
        F.avg("dy").alias("my"),
        F.avg(F.col("dx") * F.col("dy")).alias("mxy"),
        F.avg(F.col("dx") * F.col("dx")).alias("mxx"),
        F.avg(F.col("dy") * F.col("dy")).alias("myy"),
    )
    stats = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.avg("d").alias("mean_d"),
    )
    varprod = (F.col("mxx") - F.col("mx") * F.col("mx")) * (
        F.col("myy") - F.col("my") * F.col("my")
    )
    r = F.when(
        varprod > 0,
        (F.col("mxy") - F.col("mx") * F.col("my")) / F.sqrt(varprod),
    ).otherwise(F.lit(0.0))
    return m.crossJoin(F.broadcast(stats)).select(
        "n_nodes",
        (F.col("n2") / 2).cast("bigint").alias("n_edges"),
        F.round("mean_d", 6).alias("mean_degree"),
        F.round(r, 6).alias("assortativity"),
    )
