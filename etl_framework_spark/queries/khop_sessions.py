"""Contract keys: ``graph_khop_reach``, ``events_sessionize_cap``,
``feat_velocity_windows``.

K-hop graph reachability, capped sessionization,
and multi-horizon velocity features.

Reference parity: the reference's iterative graph traversal, its
stateful sessionizer (gap + max-duration split rules), and its
sliding-window feature extractor — re-expressed as unrolled frontier
joins, strict per-stream folds, and RANGE-frame windows.

Scale notes:

- ``graph_khop_reach``: BFS as k unrolled frontier-join rounds
  (frontier JOIN edges -> anti-join visited). Each round shuffles
  only the FRONTIER, not the full edge set's closure; min-level
  semantics come free from the anti-join. The oracle is a recursive
  CTE — Spark gets the same answer from a static 4-join plan.
- ``events_sessionize_cap``: a gap rule alone is window-expressible
  (flag + running sum), but the MAX-DURATION cap makes each split
  depend on the session start chosen by earlier splits — inherently
  sequential, so a strict per-stream fold with a
  [sessions, start, last, gap-splits, cap-splits] accumulator.
- ``feat_velocity_windows``: trailing 1h/24h/7d event counts per
  user from three RANGE frames over ONE sort (same window ordering
  → Spark reuses the sort across frames); integer-exact.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import guarded
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

_K_HOPS = 4
_SEED_SUPP = 1
_GAP_S = 1800  # session gap rule: 30 min silence splits
_CAP_S = 14400  # session cap rule: 4 h max duration splits
_H1, _H24, _H168 = 3600, 86400, 604800  # velocity horizons (seconds)


# --------------------------------------------------------------------------
# k-hop reachability over the supplier-part bipartite graph
# --------------------------------------------------------------------------
_KHOP_COLLECT_CAP = 8_000_000  # distinct (supplier, part) edge rows; two
# int64 columns ≈ 128 MB via Arrow, folded as numpy arrays


def _khop_bfs_in_process(s, d, seed: int) -> list[tuple]:
    """BFS on the collected bipartite edge arrays (numpy int64
    s=supplier-node, d=part-node per distinct edge). Rounds alternate
    sides (odd rounds expand a supplier frontier through s→d, even
    rounds a part frontier through d→s), so each round scans ONE
    direction of the edge list. Levels with zero new nodes terminate
    the walk — exactly the recursive CTE / anti-join semantics (a new
    node at level i+1 needs a neighbor whose MIN level is i)."""
    import numpy as np

    visited = np.array([seed], dtype=np.int64)
    frontier = visited
    out = [(0, 1, 0)]
    for i in range(1, _K_HOPS + 1):
        if i % 2 == 1:
            nxt = np.unique(d[np.isin(s, frontier)])
        else:
            nxt = np.unique(s[np.isin(d, frontier)])
        nxt = nxt[~np.isin(nxt, visited)]
        if nxt.size == 0:
            break
        n_sup = int((nxt % 2 == 0).sum())
        out.append((i, n_sup, int(nxt.size) - n_sup))
        visited = np.concatenate([visited, nxt])
        frontier = nxt
    return out


@query(
    "graph_khop_reach",
    oracle=f"""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT concat('s:', l_suppkey) AS src,
                      concat('p:', l_partkey) AS dst
      FROM lineitem
      UNION
      SELECT DISTINCT concat('p:', l_partkey) AS src,
                      concat('s:', l_suppkey) AS dst
      FROM lineitem
    ),
    reach(node, lvl) AS (
      SELECT concat('s:', {_SEED_SUPP}), 0
      UNION
      SELECT e.dst, r.lvl + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.lvl < {_K_HOPS}
    ),
    lv AS (SELECT node, min(lvl) AS lvl FROM reach GROUP BY node)
    SELECT lvl,
           CAST(count(*) FILTER (node LIKE 's:%') AS BIGINT) AS n_suppliers,
           CAST(count(*) FILTER (node LIKE 'p:%') AS BIGINT) AS n_parts
    FROM lv GROUP BY lvl
    """,
)
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first k-hop reachability (k=4) from one seed supplier
    over the supplier-part bipartite graph: how many new suppliers
    and parts become reachable at each hop — the blast-radius query
    behind supply-chain impact analysis. Spark unrolls BFS into k
    frontier rounds (frontier ⋈ edges → anti-join visited keeps
    min-level semantics); each round shuffles only the frontier. The
    DuckDB oracle is the equivalent recursive CTE. Ref: reference
    iterative-traversal tests (cf. llm_dedup_cc, cte_recursive)."""
    li = table(spark, sf_dir, "lineitem")
    # Node ids stay BIGINT end to end (supplier k → 2k, part k →
    # 2k+1): the oracle's 's:'/'p:' strings exist only to disambiguate
    # the two key spaces and to split the final counts, and parity
    # does both at a fraction of the shuffle width — string keys cost
    # ~2× the bytes and a string hash per probe across all k rounds
    # (r11 isolated A/B at sf0.1, median-of-3: 5.02 s → 4.25 s,
    # value-identical).
    fwd = li.select(
        (F.col("l_suppkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    ).distinct()
    # r12 (guide §1.2; VERDICT r11 item 4): the k unrolled frontier
    # rounds each cost a distinct shuffle + anti-join + checkpoint job
    # on a graph whose DISTINCT edge list is tiny next to lineitem
    # (~0.6M rows at sf0.1). Pull the deduped edge list ONCE and BFS
    # in-process — isolated alternating A/B at sf0.1, median-of-3:
    # 5.14 → 1.41 s, value-identical.
    head = guarded.collect_capped(fwd, _KHOP_COLLECT_CAP)
    if head is not None:
        out_rows = _khop_bfs_in_process(
            head.column("src").to_numpy(zero_copy_only=False),
            head.column("dst").to_numpy(zero_copy_only=False),
            2 * _SEED_SUPP,
        )
        return guarded.local_frame(
            spark, out_rows, "lvl int, n_suppliers bigint, n_parts bigint"
        )
    # Fallback: materialize the edge list ONCE (persist): it feeds
    # every one of the k frontier joins, and unpersisted it re-ran the
    # lineitem-distinct pipeline per round. Each frontier round
    # localCheckpoints — BFS is inherently iterative, and truncating
    # the lineage keeps round i from re-dragging rounds 1..i-1
    # through the planner (same fix as graph_kcore_peel, r7).
    # No distinct on the union: the forward branch has even src, the
    # reversed branch odd src — disjoint key spaces, and fwd is
    # already distinct, so the union is dup-free by construction
    # (dropping the redundant 1.2M-row exchange).
    edges = fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).transform(persist_tracked)
    seed = (
        spark.range(1)
        .select(F.lit(2 * _SEED_SUPP).cast("long").alias("node"))
        .withColumn("lvl", F.lit(0))
        .localCheckpoint()
    )
    # `visited` stays a lazy unionAll of ALREADY-checkpointed
    # frontiers — every leaf is materialized, so its lineage is one
    # flat union regardless of round, and only the (small) new
    # frontier pays a checkpoint job per hop. Measured neutral at
    # sf0.1 (visited is tiny there), but it removes the O(k·|visited|)
    # re-materialization term — the piece that grows with graph size
    # at 100 TB, where late-round visited sets dominate the frontier.
    visited = seed
    frontier = seed
    for i in range(1, _K_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("lvl", F.lit(i))
            .localCheckpoint()
        )
        visited = visited.unionAll(nxt)
        frontier = nxt
    edges.unpersist()
    return visited.groupBy("lvl").agg(
        F.count(F.when(F.col("node") % 2 == 0, 1))
        .cast("bigint")
        .alias("n_suppliers"),
        F.count(F.when(F.col("node") % 2 == 1, 1))
        .cast("bigint")
        .alias("n_parts"),
    )


# --------------------------------------------------------------------------
# Sessionization with BOTH a gap rule and a max-duration cap
# --------------------------------------------------------------------------
@query(
    "events_sessionize_cap",
    oracle=f"""
    WITH seq AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t,
             event_id
      FROM events
    ),
    arrs AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             list([CAST(t AS DOUBLE), CAST(0 AS DOUBLE)]
                  ORDER BY t, event_id) AS xs
      FROM seq GROUP BY event_type
    ),
    st AS (
      SELECT event_type, n_events,
             list_reduce(
               list_transform(xs, e -> [CAST(1.0 AS DOUBLE), e[1], e[1],
                                        CAST(0.0 AS DOUBLE),
                                        CAST(0.0 AS DOUBLE)]),
               (acc, el) -> [
                 acc[1] + CASE WHEN el[2] - acc[3] > {_GAP_S} THEN 1.0
                               WHEN el[2] - acc[2] > {_CAP_S} THEN 1.0
                               ELSE 0.0 END,
                 CASE WHEN el[2] - acc[3] > {_GAP_S} THEN el[2]
                      WHEN el[2] - acc[2] > {_CAP_S} THEN el[2]
                      ELSE acc[2] END,
                 el[2],
                 acc[4] + CASE WHEN el[2] - acc[3] > {_GAP_S} THEN 1.0
                               ELSE 0.0 END,
                 acc[5] + CASE WHEN el[2] - acc[3] > {_GAP_S} THEN 0.0
                               WHEN el[2] - acc[2] > {_CAP_S} THEN 1.0
                               ELSE 0.0 END]) AS s
      FROM arrs
    )
    SELECT event_type, n_events,
           CAST(s[1] AS BIGINT) AS n_sessions,
           CAST(s[4] AS BIGINT) AS n_gap_splits,
           CAST(s[5] AS BIGINT) AS n_cap_splits
    FROM st
    """,
)
def events_sessionize_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize each event-type stream with TWO split rules: a
    30-minute silence gap OR a 4-hour max session duration. The gap
    rule alone is the classic flag+running-sum window; the duration
    cap makes each split depend on the session START chosen by
    earlier splits — inherently sequential state, so a strict fold
    with a [sessions, session_start, last_t, gap_splits, cap_splits]
    accumulator per stream (gap rule wins when both fire; identical
    CASE order both engines). The batch twin of the streaming
    stateful sessionizer (stream_session). Ref: reference
    sessionizer tests."""
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("t"),
        "event_id",
    )
    arrs = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.array_sort(F.collect_list(F.struct("t", "event_id"))).alias("sv"),
    )
    ts = F.transform(F.col("sv"), lambda s: s["t"].cast("double"))
    first = F.element_at(ts, 1)
    init = F.struct(
        F.lit(1.0).alias("ns"),
        first.alias("start"),
        first.alias("last"),
        F.lit(0.0).alias("gaps"),
        F.lit(0.0).alias("caps"),
    )
    gap_c = lambda acc, t: t - acc["last"] > _GAP_S
    cap_c = lambda acc, t: t - acc["start"] > _CAP_S
    state = F.aggregate(
        F.slice(ts, 2, F.size(ts) - 1),
        init,
        lambda acc, t: F.struct(
            (
                acc["ns"]
                + F.when(gap_c(acc, t), F.lit(1.0))
                .when(cap_c(acc, t), F.lit(1.0))
                .otherwise(F.lit(0.0))
            ).alias("ns"),
            F.when(gap_c(acc, t), t)
            .when(cap_c(acc, t), t)
            .otherwise(acc["start"])
            .alias("start"),
            t.alias("last"),
            (
                acc["gaps"]
                + F.when(gap_c(acc, t), F.lit(1.0)).otherwise(F.lit(0.0))
            ).alias("gaps"),
            (
                acc["caps"]
                + F.when(gap_c(acc, t), F.lit(0.0))
                .when(cap_c(acc, t), F.lit(1.0))
                .otherwise(F.lit(0.0))
            ).alias("caps"),
        ),
    )
    return arrs.select(
        "event_type",
        "n_events",
        state["ns"].cast("bigint").alias("n_sessions"),
        state["gaps"].cast("bigint").alias("n_gap_splits"),
        state["caps"].cast("bigint").alias("n_cap_splits"),
    )


# --------------------------------------------------------------------------
# Multi-horizon trailing velocity features per user
# --------------------------------------------------------------------------
@query(
    "feat_velocity_windows",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t
      FROM events
    ),
    v AS (
      SELECT user_id,
             count(*) OVER (PARTITION BY user_id ORDER BY t
                            RANGE BETWEEN {_H1 - 1} PRECEDING
                                      AND CURRENT ROW) AS c1h,
             count(*) OVER (PARTITION BY user_id ORDER BY t
                            RANGE BETWEEN {_H24 - 1} PRECEDING
                                      AND CURRENT ROW) AS c24h,
             count(*) OVER (PARTITION BY user_id ORDER BY t
                            RANGE BETWEEN {_H168 - 1} PRECEDING
                                      AND CURRENT ROW) AS c7d
      FROM seq
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(c1h) AS BIGINT) AS max_burst_1h,
           CAST(max(c24h) AS BIGINT) AS max_burst_24h,
           CAST(max(c7d) AS BIGINT) AS max_burst_7d,
           round(avg(CAST(c1h AS DOUBLE)), 6) AS avg_trailing_1h
    FROM v GROUP BY user_id
    """,
)
def feat_velocity_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burst/velocity features at three horizons — the peak
    trailing 1 h / 24 h / 7 d event counts (and the mean trailing-1h
    load) that fraud and abuse models consume. Three RANGE frames
    over the SAME (user, time) ordering, so the sort is computed once
    and shared; frames are inclusive trailing windows on integer
    epoch seconds (identical tie semantics both engines:
    equal-second peers all join the frame). Integer-exact. Ref:
    reference sliding-feature tests (cf. events_sliding_uniques)."""
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("t"),
    )
    wf = lambda h: (
        W.partitionBy("user_id").orderBy("t").rangeBetween(-(h - 1), 0)
    )
    v = seq.select(
        "user_id",
        F.count(F.lit(1)).over(wf(_H1)).alias("c1h"),
        F.count(F.lit(1)).over(wf(_H24)).alias("c24h"),
        F.count(F.lit(1)).over(wf(_H168)).alias("c7d"),
    )
    return v.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("c1h").cast("bigint").alias("max_burst_1h"),
        F.max("c24h").cast("bigint").alias("max_burst_24h"),
        F.max("c7d").cast("bigint").alias("max_burst_7d"),
        F.round(F.avg(F.col("c1h").cast("double")), 6).alias("avg_trailing_1h"),
    )
