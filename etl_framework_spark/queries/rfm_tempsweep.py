"""Contract keys: ``events_rfm_migration``, ``train_mix_temp_sweep``.

Customer-segment dynamics and mixture-temperature
tuning.

Scale notes:

- ``events_rfm_migration``: per-user, per-half activity rollups (the
  only fact-sized shuffles) feed quartile windows over |users| rows;
  the output transition matrix is ≤ 5×5 regardless of scale — the
  'are my heavy users churning' report.
- ``train_mix_temp_sweep``: the mixture-temperature tuning curve —
  per-language weights across an alpha grid, all from one tiny
  per-language count aggregate crossed with a constant grid; the
  alpha knob every multilingual data mix gets argued about.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import guarded
from etl_framework_spark.registry import query

_MID = "2024-01-16"  # split point between the two activity halves
_ALPHAS = ["0.2", "0.4", "0.6", "0.8", "1.0"]


# --------------------------------------------------------------------------
# Customer dynamics — frequency-quartile migration between halves
# --------------------------------------------------------------------------
@query(
    "events_rfm_migration",
    oracle=f"""
    WITH h1 AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n
      FROM events WHERE ts < TIMESTAMP '{_MID}' GROUP BY user_id
    ),
    h2 AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n
      FROM events WHERE ts >= TIMESTAMP '{_MID}' GROUP BY user_id
    ),
    q1 AS (SELECT user_id,
                  ntile(4) OVER (ORDER BY n DESC, user_id) AS q
           FROM h1),
    q2 AS (SELECT user_id,
                  ntile(4) OVER (ORDER BY n DESC, user_id) AS q
           FROM h2),
    allu AS (SELECT user_id FROM h1 UNION SELECT user_id FROM h2),
    joined AS (
      SELECT a.user_id,
             coalesce(q1.q, 0) AS q_first,
             coalesce(q2.q, 0) AS q_second
      FROM allu a
      LEFT JOIN q1 ON q1.user_id = a.user_id
      LEFT JOIN q2 ON q2.user_id = a.user_id
    )
    SELECT q_first, q_second,
           CAST(count(*) AS BIGINT) AS n_users
    FROM joined GROUP BY q_first, q_second
    """,
)
def events_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-migration matrix: each user's activity-frequency
    quartile in the first half of the window vs the second (quartile
    0 = inactive in that half, ntile tie-broken by user_id so both
    engines cut identically) — the report that turns 'engagement is
    flat' into 'my top quartile is churning and being backfilled'.
    Two per-user rollups are the only fact-sized shuffles; quartile
    windows run over |users| rows; the matrix is ≤ 5×5 at any
    scale."""
    ev = table(spark, sf_dir, "events")
    mid = F.lit(_MID).cast("timestamp")
    h1 = (
        ev.filter(F.col("ts") < mid)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    h2 = (
        ev.filter(F.col("ts") >= mid)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    wq = W.orderBy(F.col("n").desc(), "user_id")
    q1 = h1.select("user_id", F.ntile(4).over(wq).alias("q_first"))
    q2 = h2.select(
        F.col("user_id").alias("uid2"), F.ntile(4).over(wq).alias("q_second")
    )
    allu = (
        h1.select("user_id").union(h2.select("user_id")).distinct()
    )
    joined = (
        allu.join(q1, "user_id", "left")
        .join(q2, allu.user_id == q2.uid2, "left")
        .select(
            F.coalesce("q_first", F.lit(0)).alias("q_first"),
            F.coalesce("q_second", F.lit(0)).alias("q_second"),
        )
    )
    return joined.groupBy("q_first", "q_second").agg(
        F.count("*").cast("bigint").alias("n_users")
    )


# --------------------------------------------------------------------------
# Training mix — temperature sweep over the alpha grid
# --------------------------------------------------------------------------
@query(
    "train_mix_temp_sweep",
    oracle=f"""
    WITH cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
                 FROM documents GROUP BY lang),
    grid AS (SELECT CAST(unnest([{", ".join(_ALPHAS)}]) AS DOUBLE) AS alpha),
    scored AS (
      SELECT g.alpha, c.lang, c.n,
             pow(c.n, g.alpha) AS s,
             sum(pow(c.n, g.alpha)) OVER (PARTITION BY g.alpha) AS tot
      FROM cnt c CROSS JOIN grid g
    )
    SELECT alpha, lang, CAST(n AS BIGINT) AS n_docs,
           round(s / tot, 6) AS weight,
           round(s / tot / (n / (SELECT CAST(sum(n) AS DOUBLE) FROM cnt)),
                 6) AS boost_vs_natural
    FROM scored
    """,
)
def train_mix_temp_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-temperature tuning curve: per-language sampling weight
    w_i = n_i^α / Σ n_j^α for every α on the grid, plus the boost each
    language gets relative to its natural share — the table that
    settles the 'what temperature do we sample at' argument with
    numbers instead of vibes (α=1 is natural, α→0 is uniform). One
    |langs|-row aggregate crossed with a constant grid; the window
    denominator partitions by α over |langs| rows."""
    d = table(spark, sf_dir, "documents")
    cnt = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("n"))
    grid = guarded.local_frame(
        spark,
        [(float(a),) for a in _ALPHAS], "alpha double"
    )
    tot_nat = cnt.agg(F.sum("n").cast("double").alias("nat_tot"))
    scored = cnt.crossJoin(F.broadcast(grid)).select(
        "alpha",
        "lang",
        "n",
        F.pow(F.col("n"), F.col("alpha")).alias("s"),
    )
    wtot = W.partitionBy("alpha")
    return (
        scored.withColumn("tot", F.sum("s").over(wtot))
        .crossJoin(F.broadcast(tot_nat))
        .select(
            "alpha",
            "lang",
            F.col("n").alias("n_docs"),
            F.round(F.col("s") / F.col("tot"), 6).alias("weight"),
            F.round(
                (F.col("s") / F.col("tot"))
                / (F.col("n") / F.col("nat_tot")),
                6,
            ).alias("boost_vs_natural"),
        )
    )
