"""Contract keys: ``vec_sim_hamming``, ``ts_cross_corr``,
``llm_hapax_ratio``.

Binary-code similarity search, lagged
cross-correlation, and vocabulary-richness profiling.

Scale notes:

- ``vec_sim_hamming``: the 64-dim float vector compresses to TWO
  BIGINT words (sign bits) — 16 bytes/vector, a 16× reduction — and
  candidate scoring is two XOR+popcount ops per pair, all JVM integer
  math inside whole-stage codegen. The query side broadcasts; the
  corpus streams once. This is the memory-bandwidth-optimal first
  stage of a binary-rerank pipeline at 100 TB.
- ``ts_cross_corr``: the |days|-row calendar spine per type is tiny
  after the daily rollup; every Pearson r comes from INTEGER
  sufficient statistics (counts and their products), so the result is
  bit-exact and partition-order independent.
- ``llm_hapax_ratio``: one token explode → (source, token) count →
  per-source rollup; all integer counts.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.textops import tokens
from etl_framework_spark.registry import query

TOPK = 10
QUERY_MOD = 10  # matches llm_sim_topk's query-set convention
_MAX_LAG = 3


# --------------------------------------------------------------------------
# Hamming-code ANN — sign-binarized embeddings, XOR+popcount top-k
# --------------------------------------------------------------------------
def _duck_pack() -> str:
    """Pack sign bits into (lo, hi) BIGINT words via a dims cross join."""
    return """
    codes AS (
      SELECT vec_id,
             sum(CASE WHEN d < 32 AND embedding[d + 1] > 0
                      THEN (CAST(1 AS BIGINT) << d) ELSE 0 END) AS lo,
             sum(CASE WHEN d >= 32 AND embedding[d + 1] > 0
                      THEN (CAST(1 AS BIGINT) << (d - 32)) ELSE 0 END) AS hi
      FROM embeddings, range(64) t(d)
      GROUP BY vec_id
    )
    """


@query(
    "vec_sim_hamming",
    oracle=f"""
    WITH {_duck_pack()},
    q AS (SELECT vec_id AS qid, lo AS qlo, hi AS qhi FROM codes
          WHERE vec_id % {QUERY_MOD} = 0),
    pairs AS (
      SELECT q.qid, c.vec_id AS vid,
             CAST(bit_count(xor(q.qlo, c.lo))
                  + bit_count(xor(q.qhi, c.hi)) AS INT) AS hamming
      FROM q JOIN codes c ON c.vec_id <> q.qid
    )
    SELECT qid, vid, hamming, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY hamming, vid) AS rnk
      FROM pairs)
    WHERE rnk <= {TOPK}
    """,
)
def vec_sim_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-code similarity search: sign-binarize each 64-dim
    embedding into two BIGINT words (bit i = 1 iff dim i > 0), then
    top-k nearest by Hamming distance = popcount(xor(lo)) +
    popcount(xor(hi)). The classic cheap first stage before an exact
    cosine rerank: 16 bytes per vector instead of 256, and scoring is
    two XOR+popcount integer ops entirely inside whole-stage codegen —
    no Python, no floats, bit-exact on any partitioning. The query
    side (vec_id % {QUERY_MOD} = 0) broadcasts its packed codes; the
    corpus streams once; a per-query window keeps the k best
    (ties broken by vid for a total order)."""
    emb = table(spark, sf_dir, "embeddings")
    lo = F.expr(
        "aggregate(transform(slice(embedding, 1, 32),"
        " (x, i) -> IF(x > 0, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),"
        " CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    hi = F.expr(
        "aggregate(transform(slice(embedding, 33, 32),"
        " (x, i) -> IF(x > 0, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),"
        " CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    codes = emb.select("vec_id", lo.alias("lo"), hi.alias("hi"))
    q = codes.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    pairs = codes.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.col("vec_id").alias("vid"),
        (
            F.bit_count(F.col("qlo").bitwiseXOR(F.col("lo")))
            + F.bit_count(F.col("qhi").bitwiseXOR(F.col("hi")))
        )
        .cast("int")
        .alias("hamming"),
    )
    w = W.partitionBy("qid").orderBy("hamming", "vid")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
        .select("qid", "vid", "hamming", "rnk")
    )


# --------------------------------------------------------------------------
# Lagged cross-correlation between event-type daily volumes
# --------------------------------------------------------------------------
@query(
    "ts_cross_corr",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
      FROM events GROUP BY event_type, day
    ),
    cal AS (SELECT unnest(generate_series(
              (SELECT min(day) FROM daily),
              (SELECT max(day) FROM daily), INTERVAL 1 DAY)) AS day),
    types AS (SELECT DISTINCT event_type FROM daily),
    spine AS (
      SELECT t.event_type, c.day, coalesce(d.n, 0) AS n
      FROM types t CROSS JOIN cal c
      LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = c.day
    ),
    lags AS (SELECT unnest(generate_series(-{_MAX_LAG}, {_MAX_LAG})) AS lag),
    joined AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
             a.n AS x, b.n AS y
      FROM spine a
      CROSS JOIN lags l
      JOIN spine b ON b.event_type > a.event_type
                  AND b.day = a.day + to_days(CAST(l.lag AS INT))
    ),
    s AS (
      SELECT type_a, type_b, lag,
             CAST(count(*) AS DOUBLE) AS n, CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM joined GROUP BY type_a, type_b, lag
    )
    SELECT type_a, type_b, CAST(lag AS INT) AS lag,
           CAST(n AS BIGINT) AS n_days,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS xcorr
    FROM s
    WHERE (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
    """,
)
def ts_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily volumes of every
    event-type pair, lags −{_MAX_LAG}..+{_MAX_LAG} — 'does type A's
    traffic lead type B's by k days?', the screen run before anyone
    claims a causal funnel between product surfaces. Daily counts sit
    on a shared calendar spine (missing days = 0, so absence
    correlates as absence); each Pearson r is assembled from INTEGER
    sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy² of counts), making
    every value bit-exact under any partitioning. Cost: one daily
    rollup shuffle, then all pair×lag work happens on |types|·|days|
    spine rows — thousands, regardless of raw event volume."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n"))
    bounds = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )
    types = daily.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(cal))
        .join(daily, ["event_type", "day"], "left")
        .select("event_type", "day", F.coalesce("n", F.lit(0)).alias("n"))
    )
    lags = spark.range(-_MAX_LAG, _MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = spine.select(
        F.col("event_type").alias("type_a"), F.col("day").alias("day_a"),
        F.col("n").alias("x"),
    )
    b = spine.select(
        F.col("event_type").alias("type_b"), F.col("day").alias("day_b"),
        F.col("n").alias("y"),
    )
    joined = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("type_b") > F.col("type_a"))
            & (
                F.col("day_b")
                == F.col("day_a") + F.make_dt_interval(days=F.col("lag"))
            ),
        )
    )
    s = joined.groupBy("type_a", "type_b", "lag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    var_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.filter((var_x > 0) & (var_y > 0)).select(
        "type_a",
        "type_b",
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_days"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.sqrt(var_x) * F.sqrt(var_y)),
            6,
        ).alias("xcorr"),
    )


# --------------------------------------------------------------------------
# Vocabulary richness — hapax legomena and type-token ratio per source
# --------------------------------------------------------------------------
@query(
    "llm_hapax_ratio",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    counts AS (
      SELECT source, tok, count(*) AS c FROM tok
      WHERE tok <> '' GROUP BY source, tok
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(count(*) FILTER (c = 1) AS BIGINT) AS n_hapax,
           round(CAST(count(*) FILTER (c = 1) AS DOUBLE) / count(*), 6)
             AS hapax_ratio,
           round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS type_token_ratio
    FROM counts GROUP BY source
    """,
)
def llm_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness profile per corpus source: total token
    mass, vocabulary size, hapax legomena (tokens seen exactly once)
    and the hapax/vocab + type/token ratios — the quick lexical
    fingerprint that separates template-heavy or boilerplate sources
    (low TTR, few hapax) from diverse natural text, and the
    denominator sanity-check before vocabulary-size-sensitive steps
    (BPE training, OOV analysis). One explode → (source, token)
    partial-agg → per-source rollup; everything is integer counts, so
    the shuffle is the map-side-combined token count and the result is
    exact."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(tokens("text")).alias("tok")
    ).filter(F.col("tok") != "")
    counts = tok.groupBy("source", "tok").agg(F.count("*").alias("c"))
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocab_size"),
        hapax.cast("bigint").alias("n_hapax"),
        F.round(hapax.cast("double") / F.count("*"), 6).alias("hapax_ratio"),
        F.round(F.count("*").cast("double") / F.sum("c"), 6).alias(
            "type_token_ratio"
        ),
    )
