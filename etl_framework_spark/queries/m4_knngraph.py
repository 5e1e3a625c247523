"""Contract keys: ``ts_m4_downsample``, ``vec_knn_reciprocity``,
``events_token_bucket``.

M4 downsampling, kNN-graph quality, and
token-bucket rate limiting.

Reference parity: the reference's dashboard downsampler, its ANN
graph diagnostics, and its rate-limiter simulation — re-expressed as
two-pass bucket aggregation, a bounded pair join with strict-fold
cosines, and a refill-state fold.

Scale notes:

- ``ts_m4_downsample``: M4 (first/last/min/max per bucket) is THE
  error-free line-chart downsampler — unlike LTTB it's fully
  parallel: one rollup + one broadcast join to recover the argmin /
  argmax timestamps. 720 hourly points become 4/day regardless of
  fact volume.
- ``vec_knn_reciprocity``: kNN-graph reciprocity and hub skew are
  the standard ANN-index health probes. Pairs are generated with a
  bounded equi-join (constant key, broadcast side is the sampled
  node set) — the brute-force O(s²) runs on a SAMPLE; the production
  path bucketizes first (llm_sim_ann / llm_sim_ivf).
- ``events_token_bucket``: continuous-refill token buckets depend on
  the tokens left by every earlier decision — a strict per-stream
  fold with [tokens, last_t, dropped] state over the time-sorted
  events; streams fold in parallel.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.similarity import cosine, duck_cosine
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked
from etl_framework_spark.operators.rounding import q6

_KNN_K = 5
_KNN_MOD = 10  # sample: vec_id % 10 == 0
_CAP = 10.0  # token bucket capacity
_RATE = 1.0 / 60.0  # refill: one token per minute


# --------------------------------------------------------------------------
# M4 downsampling of the hourly event-count series
# --------------------------------------------------------------------------
@query(
    "ts_m4_downsample",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             CAST(count(*) AS DOUBLE) AS v
      FROM events GROUP BY day, h
    ),
    b AS (
      SELECT day, min(v) AS v_min, max(v) AS v_max,
             min(h) AS h_first, max(h) AS h_last,
             CAST(count(*) AS BIGINT) AS n_points
      FROM hourly GROUP BY day
    )
    SELECT b.day, b.n_points,
           min(CASE WHEN hourly.h = b.h_first THEN hourly.v END) AS v_first,
           min(CASE WHEN hourly.h = b.h_last THEN hourly.v END) AS v_last,
           b.v_min, b.v_max,
           CAST(min(CASE WHEN hourly.v = b.v_min THEN hourly.h END)
                - b.h_first AS BIGINT) / 3600 AS argmin_hour_offset,
           CAST(min(CASE WHEN hourly.v = b.v_max THEN hourly.h END)
                - b.h_first AS BIGINT) / 3600 AS argmax_hour_offset
    FROM hourly JOIN b ON hourly.day = b.day
    GROUP BY b.day, b.n_points, b.v_min, b.v_max, b.h_first, b.h_last
    """,
)
def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling of the hourly event-count series to daily
    buckets: first, last, min, max per bucket plus the argmin/argmax
    hour offsets — the downsampler that provably preserves a line
    chart's pixel-exact envelope, and unlike LTTB needs no sequential
    state (every bucket reduces independently → fully parallel). One
    rollup finds the four extremes; one broadcast join back recovers
    the values at the first/last hours and the EARLIEST hour
    achieving each extreme (deterministic tie-break). Ref: reference
    downsampler tests (cf. ts_paa_sax)."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("h"),
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    b = hourly.groupBy("day").agg(
        F.min("v").alias("v_min"),
        F.max("v").alias("v_max"),
        F.min("h").alias("h_first"),
        F.max("h").alias("h_last"),
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
    )
    j = hourly.join(F.broadcast(b), "day")
    return j.groupBy("day", "n_points", "v_min", "v_max", "h_first", "h_last").agg(
        F.min(F.when(F.col("h") == F.col("h_first"), F.col("v"))).alias("v_first"),
        F.min(F.when(F.col("h") == F.col("h_last"), F.col("v"))).alias("v_last"),
        (
            F.min(F.when(F.col("v") == F.col("v_min"), F.col("h"))).cast("bigint")
            - F.col("h_first")
        ).alias("_amin"),
        (
            F.min(F.when(F.col("v") == F.col("v_max"), F.col("h"))).cast("bigint")
            - F.col("h_first")
        ).alias("_amax"),
    ).select(
        "day",
        "n_points",
        "v_first",
        "v_last",
        "v_min",
        "v_max",
        (F.col("_amin") / 3600).alias("argmin_hour_offset"),
        (F.col("_amax") / 3600).alias("argmax_hour_offset"),
    )


# --------------------------------------------------------------------------
# kNN-graph reciprocity and hub skew over a vector sample
# --------------------------------------------------------------------------
@query(
    "vec_knn_reciprocity",
    oracle=f"""
    WITH sub AS (
      SELECT vec_id AS id, embedding AS e FROM embeddings
      WHERE vec_id % {_KNN_MOD} = 0
    ),
    pr AS (
      SELECT a.id AS src, b.id AS dst,
             {duck_cosine("a.e", "b.e")} AS cos
      FROM sub a JOIN sub b ON a.id <> b.id
    ),
    knn AS (
      SELECT src, dst FROM (
        SELECT *, row_number() OVER (PARTITION BY src
                                     ORDER BY cos DESC, dst) AS rk
        FROM pr) WHERE rk <= {_KNN_K}
    ),
    recip AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_recip
      FROM knn e1 JOIN knn e2 ON e1.src = e2.dst AND e1.dst = e2.src
    ),
    indeg AS (
      SELECT dst, CAST(count(*) AS BIGINT) AS d FROM knn GROUP BY dst
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM sub) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM knn) AS n_edges,
           round((SELECT n_recip FROM recip)
                 / (SELECT count(*) FROM knn), 6) AS reciprocity,
           (SELECT max(d) FROM indeg) AS max_indegree,
           (SELECT CAST(count(*) AS BIGINT) FROM sub) -
             (SELECT CAST(count(DISTINCT dst) AS BIGINT) FROM knn)
             AS n_never_neighbor
    """,
)
def vec_knn_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph health probe over a 1-in-10 vector sample: build the
    exact k=5 cosine neighbor graph (bit-exact strict-fold cosines,
    deterministic (cos DESC, id) ranking) and report reciprocity (how
    often my neighbor counts me back), the max in-degree (hubness),
    and how many nodes are nobody's neighbor — the three numbers that
    predict ANN recall trouble before an index is built. The O(s²)
    brute force runs on the SAMPLE via a bounded broadcast join; at
    corpus scale the same probe runs over llm_sim_ann's buckets.
    Ref: reference ANN-diagnostics tests."""
    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % _KNN_MOD == 0
    )
    a = emb.select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("ea"), F.lit(1).alias("one")
    )
    b = emb.select(
        F.col("vec_id").alias("dst"), F.col("embedding").alias("eb"), F.lit(1).alias("one")
    )
    pr = (
        a.join(F.broadcast(b), "one")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", cosine(F.col("ea"), F.col("eb")).alias("cos"))
    )
    wk = W.partitionBy("src").orderBy(F.desc("cos"), "dst")
    # persist: reciprocity (both sides), the edge stats, and the
    # in-degree rollup all consume the neighbor graph — unpersisted,
    # the O(s²) cosine + top-k window replayed 4× (r10). s×k rows.
    knn = (
        pr.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _KNN_K)
        .select("src", "dst")
    ).transform(persist_tracked)
    e2 = knn.select(F.col("src").alias("s2"), F.col("dst").alias("d2"))
    recip = knn.join(
        e2, (F.col("src") == F.col("d2")) & (F.col("dst") == F.col("s2"))
    ).agg(F.count(F.lit(1)).cast("double").alias("n_recip"))
    n_nodes = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    edges = knn.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.countDistinct("dst").cast("bigint").alias("n_dsts"),
    )
    indeg = knn.groupBy("dst").agg(F.count(F.lit(1)).alias("d")).agg(
        F.max("d").cast("bigint").alias("max_indegree")
    )
    return (
        n_nodes.crossJoin(edges)
        .crossJoin(recip)
        .crossJoin(indeg)
        .select(
            "n_nodes",
            "n_edges",
            F.round(F.col("n_recip") / F.col("n_edges"), 6).alias("reciprocity"),
            "max_indegree",
            (F.col("n_nodes") - F.col("n_dsts")).alias("n_never_neighbor"),
        )
    )


# --------------------------------------------------------------------------
# Token-bucket rate limiter simulation per event stream
# --------------------------------------------------------------------------
@query(
    "events_token_bucket",
    oracle=f"""
    WITH seq AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t,
             event_id
      FROM events
    ),
    arrs AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             list(CAST(t AS DOUBLE) ORDER BY t, event_id) AS xs
      FROM seq GROUP BY event_type
    ),
    st AS (
      SELECT event_type, n_events,
             list_reduce(
               list_transform(xs, x -> [{_CAP} - 1.0, x,
                                        CAST(0.0 AS DOUBLE)]),
               (acc, el) -> [
                 CASE WHEN least({_CAP}, acc[1] + (el[2] - acc[2]) * {_RATE})
                           >= 1.0
                      THEN least({_CAP}, acc[1] + (el[2] - acc[2]) * {_RATE})
                           - 1.0
                      ELSE least({_CAP}, acc[1] + (el[2] - acc[2]) * {_RATE})
                      END,
                 el[2],
                 acc[3] + CASE WHEN least({_CAP},
                                acc[1] + (el[2] - acc[2]) * {_RATE}) >= 1.0
                               THEN 0.0 ELSE 1.0 END]) AS s
      FROM arrs
    )
    SELECT event_type, n_events,
           CAST(s[3] AS BIGINT) AS n_dropped,
           round(s[3] / n_events, 6) AS drop_rate,
           floor(s[1] * 1000000 + 0.5) / 1000000 AS final_tokens
    FROM st
    """,
)
def events_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket rate limiter replayed over each event-type stream
    (capacity 10, refill 1 token/min): every event consumes a token
    if the continuously-refilled bucket holds >= 1, else it's
    dropped — the admission-control simulation that sizes rate limits
    before they ship. Tokens available depend on every earlier
    admit/drop, so it's a strict fold with [tokens, last_t, dropped]
    state over the time-sorted stream (the first element seeds a
    full bucket minus its own token; refill expressions are inlined
    identically on both engines). Ref: reference rate-limiter tests
    (cf. events_alarm_hysteresis for the alerting twin)."""
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
        F.lit(_CAP - 1.0).alias("tok"),
        first.alias("last"),
        F.lit(0.0).alias("drop"),
    )
    avail = lambda acc, t: F.least(
        F.lit(_CAP), acc["tok"] + (t - acc["last"]) * _RATE
    )
    state = F.aggregate(
        F.slice(ts, 2, F.size(ts) - 1),
        init,
        lambda acc, t: F.struct(
            F.when(avail(acc, t) >= 1.0, avail(acc, t) - 1.0)
            .otherwise(avail(acc, t))
            .alias("tok"),
            t.alias("last"),
            (
                acc["drop"]
                + F.when(avail(acc, t) >= 1.0, F.lit(0.0)).otherwise(F.lit(1.0))
            ).alias("drop"),
        ),
    )
    return arrs.select(
        "event_type",
        "n_events",
        state["drop"].cast("bigint").alias("n_dropped"),
        F.round(state["drop"] / F.col("n_events"), 6).alias("drop_rate"),
        q6(state["tok"]).alias("final_tokens"),
    )
