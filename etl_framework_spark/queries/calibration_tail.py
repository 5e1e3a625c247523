"""Contract keys: ``stats_brier_calibration``, ``stats_var_cvar``,
``graph_kcore_peel``.

Forecast calibration, tail risk, and k-core
peeling.

Reference parity: the reference's probabilistic-eval metrics, its
VaR/CVaR risk rollup, and its graph-core decomposition — re-
expressed as point-in-time rate predictions scored in one pass,
grouped quantile + conditional mean, and unrolled degree peels.

Scale notes:

- ``stats_brier_calibration``: the predictor is each user's PRIOR
  purchase share (a PIT window — leakage-free by frame), so
  prediction + scoring happen in ONE window pass + one rollup;
  p̂ is a ratio of integer counts → exact binning on both engines.
- ``stats_var_cvar``: one grouped quantile, broadcast back for the
  conditional tail mean — two small shuffles total.
- ``graph_kcore_peel``: true k-core iterates to a fixpoint; three
  UNROLLED peel rounds approximate it with a STATIC plan (each
  round = one degree rollup + one semi-join). The remaining-node
  curve converging is the signal; at 100 TB rounds are cheap
  because the edge set only shrinks. The pair build (VERDICT r6
  item 2) is ONE shuffle: collect_set suppliers per part (map-side
  combined), degree-capped at {_MAX_PART_DEG} (mirrored in the
  oracle — the graph_triangles move: at 100 TB a super-node part
  with d suppliers would emit C(d,2) pairs, so the cap bounds the
  blowup; TPC-H degrees are ~30 flat, so the cap is inert at test
  scales), then pairs explode JVM-side from the sorted set — no
  distinct shuffle, no self-join exchange.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import guarded
from etl_framework_spark.operators.graph import co_occurrence_pairs
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

_NBINS = 5
_KCORE = 6
_PEELS = 3
_MAX_PART_DEG = 200  # super-node cap for the co-supplier pair build


# --------------------------------------------------------------------------
# Brier score + reliability bins for a PIT base-rate predictor
# --------------------------------------------------------------------------
@query(
    "stats_brier_calibration",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t,
             event_id
      FROM events
    ),
    p AS (
      SELECT y,
             sum(y) OVER w / count(*) OVER w AS phat
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    scored AS (
      SELECT y, phat,
             least(CAST(floor(phat * {_NBINS}) AS BIGINT), {_NBINS - 1})
               AS bin
      FROM p WHERE phat IS NOT NULL
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(phat), 6) AS mean_predicted,
           round(avg(y), 6) AS mean_observed,
           round(avg((phat - y) * (phat - y)), 6) AS brier_in_bin
    FROM scored GROUP BY bin
    """,
)
def stats_brier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic-forecast calibration of the simplest honest
    predictor — each user's PRIOR purchase share (point-in-time
    window, so the prediction never sees its own label): per
    reliability bin, the mean predicted probability vs the observed
    purchase rate, plus the in-bin Brier score. Well-calibrated means
    the two columns track; the gap IS the calibration error. p̂ is a
    ratio of window integer counts → exact, so binning agrees across
    engines with no float ceremony. Ref: reference forecast-eval
    tests (cf. feat_pit_training_set, events_forecast_backtest)."""
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("t"),
        "event_id",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    p = seq.select(
        "y",
        (F.sum("y").over(w) / F.count(F.lit(1)).over(w)).alias("phat"),
    ).filter(F.col("phat").isNotNull())
    scored = p.withColumn(
        "bin",
        F.least(
            F.floor(F.col("phat") * _NBINS).cast("bigint"),
            F.lit(_NBINS - 1).cast("bigint"),
        ),
    )
    return scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.avg("phat"), 6).alias("mean_predicted"),
        F.round(F.avg("y"), 6).alias("mean_observed"),
        F.round(
            F.avg((F.col("phat") - F.col("y")) * (F.col("phat") - F.col("y"))), 6
        ).alias("brier_in_bin"),
    )


# --------------------------------------------------------------------------
# Value-at-Risk and Conditional VaR of event values per type
# --------------------------------------------------------------------------
@query(
    "stats_var_cvar",
    oracle="""
    WITH q AS (
      SELECT event_type, quantile_cont(value, 0.05) AS var05
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(max(q.var05), 6) AS var_5pct,
           round(avg(CASE WHEN e.value <= q.var05 THEN e.value END), 6)
             AS cvar_5pct,
           CAST(count(*) FILTER (e.value <= q.var05) AS BIGINT)
             AS n_tail
    FROM events e JOIN q ON e.event_type = q.event_type
    GROUP BY e.event_type
    """,
)
def stats_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk and Conditional VaR (expected shortfall) of
    event values per type: the 5th-percentile value and the mean of
    everything at or below it — CVaR is the coherent risk measure
    regulators insist on precisely because VaR alone ignores HOW BAD
    the tail is. One grouped exact quantile, broadcast back for the
    conditional tail mean — two small shuffles. Ref: reference
    risk-rollup tests (cf. stats_hill_tail for the tail-shape
    twin)."""
    ev = table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("var05")
    )
    j = ev.join(F.broadcast(q), "event_type")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.max("var05"), 6).alias("var_5pct"),
        F.round(
            F.avg(F.when(F.col("value") <= F.col("var05"), F.col("value"))), 6
        ).alias("cvar_5pct"),
        F.count(F.when(F.col("value") <= F.col("var05"), 1))
        .cast("bigint")
        .alias("n_tail"),
    )


# --------------------------------------------------------------------------
# k-core peeling (3 unrolled rounds) of the co-supplier graph
# --------------------------------------------------------------------------
def _peel_sql() -> str:
    # MATERIALIZED hints: every CTE here is referenced several times
    # downstream; without them DuckDB inlines the whole part-pair
    # self-join once PER REFERENCE (measured ~50s vs <1s).
    sql = f"""
    WITH e0raw AS MATERIALIZED (SELECT DISTINCT l_partkey AS p,
                                       l_suppkey AS s
                   FROM lineitem),
    pdeg AS MATERIALIZED (
      SELECT p FROM (SELECT p, count(*) AS d FROM e0raw GROUP BY p)
      WHERE d BETWEEN 2 AND {_MAX_PART_DEG}
    ),
    w0 AS MATERIALIZED (
      SELECT a.s AS u, b.s AS v, CAST(count(*) AS DOUBLE) AS c
      FROM e0raw a JOIN e0raw b ON a.p = b.p AND a.s < b.s
      WHERE a.p IN (SELECT p FROM pdeg)
      GROUP BY u, v
    ),
    thr AS (SELECT quantile_cont(c, 0.9) AS t FROM w0),
    e0 AS MATERIALIZED (SELECT u, v FROM w0, thr WHERE c > t)"""
    prev = "e0"
    for r in range(1, _PEELS + 1):
        sql += f""",
    d{r} AS MATERIALIZED (
      SELECT n FROM (
        SELECT n, count(*) AS d FROM (
          SELECT u AS n FROM {prev} UNION ALL SELECT v AS n FROM {prev}
        ) GROUP BY n
      ) WHERE d >= {_KCORE}
    ),
    e{r} AS MATERIALIZED (
      SELECT u, v FROM {prev}
      WHERE u IN (SELECT n FROM d{r}) AND v IN (SELECT n FROM d{r})
    )"""
        prev = f"e{r}"
    parts = []
    for r in range(_PEELS + 1):
        parts.append(
            f"""
    SELECT {r} AS round,
           (SELECT CAST(count(DISTINCT n) AS BIGINT) FROM
             (SELECT u AS n FROM e{r} UNION ALL SELECT v AS n FROM e{r}))
             AS nodes_remaining,
           (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS edges_remaining"""
        )
    return sql + " " + " UNION ALL ".join(parts)


_PEEL_COLLECT_CAP = 2_000_000  # ~32 MB of (u, v) longs via Arrow


def _peel_in_process(edges: list) -> list[tuple]:
    """The unrolled peel on a collected edge list: per round, count
    degrees, drop nodes with degree < k and their incident edges.
    Semantics identical to the distributed loop (round 0 = the
    unpeeled graph; nodes_remaining counts distinct endpoint ids)."""
    out = []
    for r in range(_PEELS + 1):
        nodes = set()
        for u, v in edges:
            nodes.add(u)
            nodes.add(v)
        out.append((r, len(nodes), len(edges)))
        if r == _PEELS:
            break
        deg: dict = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= _KCORE}
        edges = [(u, v) for u, v in edges if u in keep and v in keep]
    return out


@query("graph_kcore_peel", oracle=_peel_sql())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three unrolled rounds of k-core peeling (k=6) on the
    top-decile co-supplier graph: each round drops nodes of degree
    < k and their incident edges — the remaining-node curve flattens
    exactly when the true 6-core is reached, and 'how fast it
    flattens' is the robustness signature. Unrolling keeps the plan
    STATIC (degree rollup + semi-join per round) and each round's
    input only shrinks — the honest distributed approximation of the
    sequential peel. Ref: reference core-decomposition tests (cf.
    graph_khop_reach, graph_assortativity)."""
    li = table(spark, sf_dir, "lineitem")
    # ONE shuffle builds the weighted graph — see
    # operators/graph.co_occurrence_pairs (degree cap mirrored in the
    # oracle's pdeg CTE; TPC-H part degree is ~30 flat at every SF, so
    # the cap only matters on skewed real corpora, where it is the
    # difference between O(E·d̄) and O(E·d_max)).
    w0 = co_occurrence_pairs(
        li, "l_partkey", "l_suppkey", max_group_degree=_MAX_PART_DEG
    ).transform(persist_tracked)
    thr = w0.agg(F.percentile("c", 0.9).alias("t"))
    # r12 (guide §1.2; VERDICT r11 item 4): the sparsified top-decile
    # edge set (~40k rows at sf0.1) was already serialized onto ONE
    # partition (coalesce(1)) and repeatedly pushed through the driver
    # as per-round degree broadcasts — ~12 tiny jobs of pure
    # scheduling overhead. Collect it ONCE (same memory class as the
    # old single-partition + broadcast shape) and peel in-process.
    # In-process alternating A/B at sf0.1: 4.68 → 3.96 s median,
    # byte-identical output.
    edge_tbl = guarded.collect_capped(
        w0.crossJoin(F.broadcast(thr))
        .filter(F.col("c") > F.col("t"))
        .select("u", "v"),
        _PEEL_COLLECT_CAP,
    )
    if edge_tbl is not None:
        w0.unpersist()
        edge_list = list(
            zip(edge_tbl.column("u").to_pylist(), edge_tbl.column("v").to_pylist())
        )
        out_rows = _peel_in_process(edge_list)
        return guarded.local_frame(
            spark,
            out_rows,
            "round int, nodes_remaining bigint, edges_remaining bigint",
        )
    # fallback: distributed unrolled peel (the pre-r12 shape).
    # localCheckpoint (eager) the edge set and each peel round: the
    # peel is inherently iterative, and checkpointing TRUNCATES the
    # lineage so later rounds and the final stats fan-out scan a
    # materialized single partition instead of dragging the
    # broadcast-subquery chain through every action. coalesce(1):
    # single-partition rounds avoid 32-task scheduling overhead.
    edges = (
        w0.crossJoin(F.broadcast(thr))
        .filter(F.col("c") > F.col("t"))
        .select("u", "v")
        .coalesce(1)
        .localCheckpoint()
    )
    w0.unpersist()
    rounds = [edges]
    cur = edges
    for _ in range(_PEELS):
        deg = (
            cur.select(F.col("u").alias("n"))
            .unionAll(cur.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= _KCORE)
            .select("n")
        )
        cur = (
            cur.join(
                F.broadcast(deg.select(F.col("n").alias("u"))), "u", "left_semi"
            )
            .join(
                F.broadcast(deg.select(F.col("n").alias("v"))), "v", "left_semi"
            )
            .select("u", "v")
            .localCheckpoint()
        )
        rounds.append(cur)
    outs = []
    for r, e in enumerate(rounds):
        un = e.select(F.col("u").alias("n")).unionAll(
            e.select(F.col("v").alias("n"))
        )
        outs.append(
            un.agg(
                F.countDistinct("n").cast("bigint").alias("nodes_remaining"),
                (F.count(F.lit(1)) / 2).cast("bigint").alias("edges_remaining"),
            ).select(
                F.lit(r).alias("round"), "nodes_remaining", "edges_remaining"
            )
        )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionAll(df)
    return out
