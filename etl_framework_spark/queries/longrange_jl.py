"""Contract keys: ``ts_hurst``, ``vec_random_projection``,
``events_user_entropy``.

Long-range dependence (Hurst), JL random
projection with measured distortion, and behavioral entropy.

Scale notes:

- ``ts_hurst``: rescaled-range analysis on the zero-filled daily
  spine. Inside each block, R/S reduces to INTEGER arithmetic —
  w·Z_t = w·Σ_{i≤t}x − t·Σx and w²·S² = w·Σx² − (Σx)² are exact in
  BIGINT, so R/S = R_scaled/√(w·Σx² − (Σx)²) is deterministic per
  block; only the ≤|blocks| log-average is float. All per-type work
  happens on |days| spine rows.
- ``vec_random_projection``: the ±1 projection matrix is HASHED, not
  stored — sign(d, j) from integer arithmetic both engines replay —
  and each projected coordinate is a strict left fold over dims (the
  llm_sim_topk fold discipline), so projections are bit-identical.
  16 doubles/vector replaces 64 floats; distortion is audited against
  the JL expectation E[d²_proj] = k·d²_orig.
- ``events_user_entropy``: per-user Shannon entropy of the event-type
  mix folded into a bounded histogram — one partial-agg on
  (user, type), one on user, constant-size output.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

_WINDOWS = (8, 16, 32)
_PROJ_K = 16
_DIM = 64
_HA = 1315423911  # sign-hash constants (public mixing constants)
_HB = 2654435761


# --------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis of daily volumes
# --------------------------------------------------------------------------
def _duck_hurst() -> str:
    per_w = []
    for w in _WINDOWS:
        per_w.append(f"""
      SELECT event_type, {w} AS w, blk,
             (max(wz) - min(wz))
               / sqrt(CAST({w} * sum(x * x) - sum(x) * sum(x) AS DOUBLE)) AS rs
      FROM (
        SELECT event_type, blk, x,
               {w} * sum(x) OVER (PARTITION BY event_type, blk ORDER BY rn)
                 - trn * sx AS wz
        FROM (
          SELECT event_type, x, rn, ((rn - 1) // {w}) AS blk,
                 ((rn - 1) % {w}) + 1 AS trn,
                 sum(x) OVER (PARTITION BY event_type, ((rn - 1) // {w})) AS sx,
                 count(*) OVER (PARTITION BY event_type, ((rn - 1) // {w})) AS bn
          FROM spine)
        WHERE bn = {w})
      GROUP BY event_type, blk
      HAVING {w} * sum(x * x) - sum(x) * sum(x) > 0
        """)
    return f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
      FROM events GROUP BY event_type, hr
    ),
    cal AS (SELECT unnest(generate_series(
              (SELECT min(hr) FROM hourly),
              (SELECT max(hr) FROM hourly), INTERVAL 1 HOUR)) AS hr),
    types AS (SELECT DISTINCT event_type FROM hourly),
    spine AS (
      SELECT t.event_type, CAST(coalesce(d.n, 0) AS BIGINT) AS x,
             row_number() OVER (PARTITION BY t.event_type ORDER BY c.hr) AS rn
      FROM types t CROSS JOIN cal c
      LEFT JOIN hourly d ON d.event_type = t.event_type AND d.hr = c.hr
    ),
    blocks AS ({' UNION ALL '.join(per_w)}),
    scales AS (
      SELECT event_type, w, avg(log2(rs)) AS lrs,
             CAST(count(*) AS BIGINT) AS n_blocks
      FROM blocks GROUP BY event_type, w
    ),
    fit AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS k,
             sum(log2(w) * lrs) AS slr, sum(log2(w)) AS sl,
             sum(lrs) AS sr, sum(log2(w) * log2(w)) AS sll
      FROM scales GROUP BY event_type
      HAVING count(*) = {len(_WINDOWS)}
    )
    SELECT event_type,
           round((slr - sl * sr / k) / (sll - sl * sl / k), 6) AS hurst
    FROM fit
    """


@query("ts_hurst", oracle=_duck_hurst())
def ts_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of each event type's hourly volume via
    rescaled-range analysis: split the zero-filled hourly series into
    blocks of w ∈ {8, 16, 32} hours, compute R/S per block, and fit
    H as the log-log slope of ⟨R/S⟩ against w — H ≈ 0.5 means
    memoryless traffic, H → 1 long-range persistence (the property
    that decides whether capacity planning can use √t scaling).
    Inside a block everything is INTEGER: w·Z_t = w·cumsum − t·total
    and w²S² = w·Σx² − (Σx)² are BIGINT-exact, so each block's
    R/S = (max wZ − min wZ)/√(w·Σx² − (Σx)²) is deterministic; only
    the ≤|blocks| average of log₂(R/S) is float (rounded at 6). The
    whole computation runs on the |types|·|hours| spine — independent
    of raw event volume."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("n"))
    bounds = hourly.agg(F.min("hr").alias("d0"), F.max("hr").alias("d1"))
    cal = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 hour"))).alias("hr")
    )
    types = hourly.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(cal))
        .join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type",
            "hr",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("x"),
        )
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("event_type").orderBy("hr")),
        )
        .transform(persist_tracked)
    )
    blocks = None
    for w in _WINDOWS:
        blk = (
            spine.withColumn("blk", ((F.col("rn") - 1) / w).cast("bigint"))
            .withColumn("trn", ((F.col("rn") - 1) % w) + 1)
            .withColumn(
                "sx", F.sum("x").over(W.partitionBy("event_type", "blk"))
            )
            .withColumn(
                "bn", F.count("*").over(W.partitionBy("event_type", "blk"))
            )
            .filter(F.col("bn") == w)
            .withColumn(
                "wz",
                w
                * F.sum("x").over(
                    W.partitionBy("event_type", "blk").orderBy("rn")
                )
                - F.col("trn") * F.col("sx"),
            )
            .groupBy("event_type", "blk")
            .agg(
                (
                    (F.max("wz") - F.min("wz"))
                    / F.sqrt(
                        (
                            w * F.sum(F.col("x") * F.col("x"))
                            - F.sum("x") * F.sum("x")
                        ).cast("double")
                    )
                ).alias("rs"),
                (
                    w * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
                ).alias("var_scaled"),
            )
            .filter(F.col("var_scaled") > 0)
            .select("event_type", F.lit(w).alias("w"), "rs")
        )
        blocks = blk if blocks is None else blocks.unionAll(blk)
    scales = blocks.groupBy("event_type", "w").agg(
        F.avg(F.log2("rs")).alias("lrs")
    )
    fit = (
        scales.withColumn("lw", F.log2("w"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("double").alias("k"),
            F.sum(F.col("lw") * F.col("lrs")).alias("slr"),
            F.sum("lw").alias("sl"),
            F.sum("lrs").alias("sr"),
            F.sum(F.col("lw") * F.col("lw")).alias("sll"),
        )
        .filter(F.col("k") == len(_WINDOWS))
    )
    num = F.col("slr") - F.col("sl") * F.col("sr") / F.col("k")
    den = F.col("sll") - F.col("sl") * F.col("sl") / F.col("k")
    return fit.select("event_type", F.round(num / den, 6).alias("hurst"))


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss ±1 random projection with distortion audit
# --------------------------------------------------------------------------
def _sign_sql(d: str, j: str) -> str:
    """±1 sign from a hashed (dim, component) pair — identical integer
    arithmetic on both engines."""
    return (
        f"(CASE WHEN (CAST({d} AS BIGINT) * {_HA}"
        f" + CAST({j} AS BIGINT) * {_HB}) % 4294967296"
        f" < 2147483648 THEN 1.0 ELSE -1.0 END)"
    )


@query(
    "vec_random_projection",
    oracle=f"""
    WITH proj AS (
      SELECT vec_id,
             list_transform(range({_PROJ_K}), j ->
               list_reduce(
                 list_transform(range({_DIM}), d ->
                   {_sign_sql('d', 'j')} * CAST(embedding[d + 1] AS DOUBLE)),
                 (a, b) -> a + b)) AS y,
             embedding AS x
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_reduce(list_transform(range({_PROJ_K}), j ->
               (a.y[j + 1] - b.y[j + 1]) * (a.y[j + 1] - b.y[j + 1])),
               (p, q) -> p + q) AS d2_proj,
             list_reduce(list_transform(range({_DIM}), d ->
               (CAST(a.x[d + 1] AS DOUBLE) - CAST(b.x[d + 1] AS DOUBLE))
               * (CAST(a.x[d + 1] AS DOUBLE) - CAST(b.x[d + 1] AS DOUBLE))),
               (p, q) -> p + q) AS d2_orig
      FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id % 2 = 0
    )
    SELECT id_a, id_b,
           round(d2_proj / ({_PROJ_K} * d2_orig), 6) AS distortion
    FROM pairs WHERE d2_orig > 0
    """,
)
def vec_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 random projection 64 → {_PROJ_K} dims
    with a measured distortion audit. The projection matrix is never
    materialized: sign(d, j) comes from integer hash arithmetic both
    engines replay exactly, and each projected coordinate is a strict
    left fold over dimensions (llm_sim_topk's fold discipline) so the
    projection is bit-identical to the oracle. For every consecutive
    (even, odd) vec_id pair the squared distance in projected space is
    compared against k·d²_orig — the JL unbiasedness E[‖S(a−b)‖²] =
    k‖a−b‖², so distortion should concentrate near 1.0 (tested).
    At scale this is the standard cheap pre-quantization step: 16
    doubles per vector, computed in one JVM-side pass, no shuffle at
    all until someone aggregates."""
    emb = table(spark, sf_dir, "embeddings")
    proj_expr = (
        f"transform(sequence(0, {_PROJ_K - 1}), j -> "
        f"aggregate(sequence(0, {_DIM - 1}), CAST(0.0 AS DOUBLE), (a, d) -> "
        f"a + {_sign_sql('d', 'j')}"
        f" * CAST(element_at(embedding, d + 1) AS DOUBLE)))"
    )
    proj = emb.select(
        "vec_id",
        F.expr(proj_expr).alias("y"),
        F.col("embedding").alias("x"),
    )
    a = proj.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("id_a"),
        F.col("y").alias("ya"),
        F.col("x").alias("xa"),
    )
    b = proj.select(
        F.col("vec_id").alias("id_b"),
        F.col("y").alias("yb"),
        F.col("x").alias("xb"),
    )
    d2_proj = F.expr(
        f"aggregate(sequence(0, {_PROJ_K - 1}), CAST(0.0 AS DOUBLE), (p, j) -> "
        "p + (element_at(ya, j + 1) - element_at(yb, j + 1))"
        " * (element_at(ya, j + 1) - element_at(yb, j + 1)))"
    )
    d2_orig = F.expr(
        f"aggregate(sequence(0, {_DIM - 1}), CAST(0.0 AS DOUBLE), (p, d) -> "
        "p + (CAST(element_at(xa, d + 1) AS DOUBLE)"
        " - CAST(element_at(xb, d + 1) AS DOUBLE))"
        " * (CAST(element_at(xa, d + 1) AS DOUBLE)"
        " - CAST(element_at(xb, d + 1) AS DOUBLE)))"
    )
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a",
            "id_b",
            d2_proj.alias("d2_proj"),
            d2_orig.alias("d2_orig"),
        )
        .filter(F.col("d2_orig") > 0)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("d2_proj") / (_PROJ_K * F.col("d2_orig")), 6
            ).alias("distortion"),
        )
    )


# --------------------------------------------------------------------------
# Behavioral entropy — Shannon entropy of each user's event-type mix
# --------------------------------------------------------------------------
@query(
    "events_user_entropy",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS c
      FROM events GROUP BY user_id, event_type
    ),
    ent AS (
      SELECT user_id,
             CAST(sum(c) AS BIGINT) AS n_events,
             -sum(p * log2(p)) AS h
      FROM (SELECT user_id, c,
                   c / sum(c) OVER (PARTITION BY user_id) AS p
            FROM per)
      GROUP BY user_id
    )
    SELECT CAST(floor(h / 0.25) AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           round(avg(h), 6) AS avg_entropy,
           round(avg(n_events), 6) AS avg_events
    FROM ent GROUP BY bucket
    """,
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution, folded
    into a 0.25-bit histogram — the behavioral-diversity profile that
    separates single-feature users (H ≈ 0) from full-surface users
    (H → log₂|types|), and the standard screen for bot-like uniform
    traffic. Two partial-agg shuffles ((user, type) → user) and a
    constant-size histogram output; the entropy terms come from
    integer counts so only the final few-term fold is float. Exact
    power-of-two mixes (e.g. a perfect 50/50 user) land exactly on
    bucket boundaries on BOTH engines because log₂ of powers of two
    is exact IEEE."""
    e = table(spark, sf_dir, "events")
    per = e.groupBy("user_id", "event_type").agg(
        F.count("*").cast("double").alias("c")
    )
    wu = W.partitionBy("user_id")
    p = F.col("c") / F.sum("c").over(wu)
    ent = (
        per.withColumn("term", p * F.log2(p))
        .groupBy("user_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_events"),
            (-F.sum("term")).alias("h"),
        )
    )
    return (
        ent.withColumn("bucket", F.floor(F.col("h") / 0.25).cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.round(F.avg("h"), 6).alias("avg_entropy"),
            F.round(F.avg("n_events"), 6).alias("avg_events"),
        )
    )
