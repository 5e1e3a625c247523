"""Contract keys: ``stats_spearman``, ``stats_mannkendall``,
``ts_seasonal_strength``, ``llm_semantic_outliers``,
``join_bloom_prefilter``.

Rank-based correlation, trend testing, seasonal
strength, and embedding-space outliers.

Scale notes:

- ``stats_spearman``: event-type-pair Spearman ρ over DAILY counts —
  the fact stream reduces to the |types|×|days| calendar first;
  midranks come from windows inside one (pair) partition; every sum
  in the closed form is exact integer/quarter arithmetic (midranks
  are k/2), so the statistic is order-independent at any parallelism.
- ``stats_mannkendall``: Mann-Kendall trend test per event type over
  the bounded daily series — the pair enumeration is |days|² inside
  one type, a calendar-bounded self-join, never a fact-row join; S
  and the tie-corrected variance are exact integers.
- ``ts_seasonal_strength``: Hyndman-style F_s / F_t from the SAME
  decomposition ts_decompose emits (components quantized to 6 dp
  first, variances as strict day-ordered folds ↔ DuckDB list_reduce)
  — one number per type summarizing whether the seasonal/trend
  structure is real.
- ``llm_semantic_outliers``: distance-to-label-centroid outliers in
  embedding space with MEDIAN/MAD (exact order statistics — no float
  sums at all in the normalization); centroid state is
  |labels|×|dims| regardless of corpus size.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.rounding import q6
from etl_framework_spark.registry import query

_MK_Z = 1.959963984540054  # two-sided 5% normal critical value


# --------------------------------------------------------------------------
# Rank correlation — Spearman ρ between event types' daily series
# --------------------------------------------------------------------------
@query(
    "stats_spearman",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY event_type, day
    ),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb, a.day,
             a.n AS xa, b.n AS xb
      FROM daily a JOIN daily b
        ON a.day = b.day AND a.event_type < b.event_type
    ),
    ranked AS (
      SELECT ta, tb,
             rank() OVER (PARTITION BY ta, tb ORDER BY xa)
               + (count(*) OVER (PARTITION BY ta, tb, xa) - 1) / 2.0 AS rx,
             rank() OVER (PARTITION BY ta, tb ORDER BY xb)
               + (count(*) OVER (PARTITION BY ta, tb, xb) - 1) / 2.0 AS ry
      FROM pairs
    ),
    s AS (
      SELECT ta, tb, CAST(count(*) AS DOUBLE) AS n,
             sum(rx) AS sx, sum(ry) AS sy,
             sum(rx * ry) AS sxy,
             sum(rx * rx) AS sxx, sum(ry * ry) AS syy
      FROM ranked GROUP BY ta, tb
    )
    SELECT ta, tb, CAST(n AS BIGINT) AS n_days,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS rho
    FROM s
    """,
)
def stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between every pair of event types'
    daily count series — the co-movement matrix robust to nonlinear
    scaling. Midranks (average rank for ties) come from a rank window
    plus a per-value count window inside each pair's partition; the
    closed-form Pearson-on-ranks uses only sums of exact half-integer
    products (< 2^53), so the result is bit-identical at any
    parallelism or row order."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    a = daily.select(
        F.col("event_type").alias("ta"), "day", F.col("n").alias("xa")
    )
    b = daily.select(
        F.col("event_type").alias("tb"),
        F.col("day").alias("day_b"),
        F.col("n").alias("xb"),
    )
    pairs = a.join(
        b, (F.col("day") == F.col("day_b")) & (F.col("ta") < F.col("tb"))
    ).select("ta", "tb", "day", "xa", "xb")
    wrx = W.partitionBy("ta", "tb").orderBy("xa")
    wcx = W.partitionBy("ta", "tb", "xa")
    wry = W.partitionBy("ta", "tb").orderBy("xb")
    wcy = W.partitionBy("ta", "tb", "xb")
    ranked = pairs.select(
        "ta",
        "tb",
        (F.rank().over(wrx) + (F.count("*").over(wcx) - 1) / 2.0).alias("rx"),
        (F.rank().over(wry) + (F.count("*").over(wcy) - 1) / 2.0).alias("ry"),
    )
    s = ranked.groupBy("ta", "tb").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    n = F.col("n")
    rho = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "ta", "tb", n.cast("bigint").alias("n_days"),
        F.round(rho, 6).alias("rho"),
    )


# --------------------------------------------------------------------------
# Trend testing — Mann-Kendall per event type
# --------------------------------------------------------------------------
@query(
    "stats_mannkendall",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, day
    ),
    s AS (
      SELECT a.event_type,
             sum(CASE WHEN b.n > a.n THEN 1
                      WHEN b.n < a.n THEN -1 ELSE 0 END) AS s_stat
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
      GROUP BY a.event_type
    ),
    nn AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n
           FROM daily GROUP BY event_type),
    ties AS (
      SELECT event_type,
             sum(t * (t - 1) * (2 * t + 5)) AS tie_term
      FROM (SELECT event_type, CAST(count(*) AS DOUBLE) AS t
            FROM daily GROUP BY event_type, n)
      GROUP BY event_type
    ),
    z AS (
      SELECT s.event_type, s.s_stat, nn.n,
             sqrt((nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term)
                  / 18.0) AS sd,
             CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                  WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                  ELSE 0 END AS s_adj
      FROM s JOIN nn USING (event_type) JOIN ties USING (event_type)
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(s_stat AS BIGINT) AS s_stat,
           round(s_adj / sd, 6) AS z,
           CASE WHEN s_adj / sd > {_MK_Z} THEN 'increasing'
                WHEN s_adj / sd < -{_MK_Z} THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM z
    """,
)
def stats_mannkendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test per event type over the daily
    count series: S = Σ sign(x_j − x_i) for i<j, tie-corrected normal
    approximation with continuity correction — the nonparametric 'is
    this metric actually trending' test dashboards need. The pair
    enumeration is a self-join of the CALENDAR-bounded daily table
    within one type (|days|² pairs per type, independent of raw
    volume); S and the tie term are exact integers."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    a = daily.select("event_type", "day", F.col("n").alias("na"))
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("day").alias("day_b"),
        F.col("n").alias("nb"),
    )
    s = (
        a.join(
            b,
            (F.col("event_type") == F.col("et_b"))
            & (F.col("day") < F.col("day_b")),
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("nb") > F.col("na"), 1)
                .when(F.col("nb") < F.col("na"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    nn = daily.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n")
    )
    ties = (
        daily.groupBy("event_type", "n")
        .agg(F.count("*").cast("double").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    z = s.join(nn, "event_type").join(ties, "event_type")
    nd = F.col("n")
    sd = F.sqrt(
        (nd * (nd - 1) * (2 * nd + 5) - F.col("tie_term")) / 18.0
    )
    s_adj = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(0)
    )
    zval = s_adj / sd
    return z.select(
        "event_type",
        nd.cast("bigint").alias("n_days"),
        F.col("s_stat").cast("bigint").alias("s_stat"),
        F.round(zval, 6).alias("z"),
        F.when(zval > _MK_Z, "increasing")
        .when(zval < -_MK_Z, "decreasing")
        .otherwise("none")
        .alias("trend"),
    )


# --------------------------------------------------------------------------
# TS — seasonal / trend strength (Hyndman F_s, F_t) per event type
# --------------------------------------------------------------------------
@query(
    "ts_seasonal_strength",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM events GROUP BY event_type, day
    ),
    tr AS (
      SELECT event_type, day, cnt,
             avg(cnt) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
      FROM daily
    ),
    de AS (SELECT *, cnt - trend AS detr,
                  CAST(isodow(day) AS INT) AS dow
           FROM tr),
    se AS (SELECT event_type, dow, avg(detr) AS seasonal
           FROM de GROUP BY event_type, dow),
    comp AS (
      SELECT de.event_type, de.day,
             floor(trend * 1000000 + 0.5) / 1000000 AS t,
             floor(seasonal * 1000000 + 0.5) / 1000000 AS s,
             floor((detr - seasonal) * 1000000 + 0.5) / 1000000 AS r
      FROM de JOIN se ON de.event_type = se.event_type
                     AND de.dow = se.dow
    ),
    arrs AS (
      SELECT event_type,
             list(r ORDER BY day) AS rs,
             list(s + (r) ORDER BY day) AS sr,
             list(t + (r) ORDER BY day) AS tr2,
             CAST(count(*) AS DOUBLE) AS n
      FROM comp GROUP BY event_type
    ),
    vars AS (
      SELECT event_type, n,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(rs, x -> x * x)), (a, x) -> a + x) / n
               - pow(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), rs),
                                 (a, x) -> a + x) / n, 2) AS v_r,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(sr, x -> x * x)), (a, x) -> a + x) / n
               - pow(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), sr),
                                 (a, x) -> a + x) / n, 2) AS v_sr,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(tr2, x -> x * x)), (a, x) -> a + x) / n
               - pow(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), tr2),
                                 (a, x) -> a + x) / n, 2) AS v_tr
      FROM arrs
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           round(greatest(0.0, 1.0 - v_r / v_sr), 6) AS seasonal_strength,
           round(greatest(0.0, 1.0 - v_r / v_tr), 6) AS trend_strength
    FROM vars
    """,
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal and trend strength (Hyndman's F_s = max(0, 1 −
    Var(R)/Var(S+R)), F_t likewise with T+R) per event type, computed
    from the SAME classical decomposition ts_decompose emits — the
    one-number-per-series answer to 'is the weekly pattern real?'.
    Components quantize to 6 dp first, then every variance is a
    strict day-ordered fold (DuckDB list_reduce twin) over one type's
    bounded daily series — deterministic at any parallelism."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("double").alias("cnt"))
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    de = daily.withColumn("trend", F.avg("cnt").over(w)).withColumn(
        "detr", F.col("cnt") - F.col("trend")
    )
    de = de.withColumn(
        "dow",
        F.when(F.dayofweek("day") == 1, 7).otherwise(F.dayofweek("day") - 1),
    )
    se = de.groupBy("event_type", "dow").agg(F.avg("detr").alias("seasonal"))
    comp = de.join(F.broadcast(se), ["event_type", "dow"]).select(
        "event_type",
        "day",
        q6(F.col("trend")).alias("t"),
        q6(F.col("seasonal")).alias("s"),
        q6(F.col("detr") - F.col("seasonal")).alias("r"),
    )
    arrs = comp.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct("day", "r", "s", "t"))
        ).alias("sv"),
        F.count("*").cast("double").alias("n"),
    )

    def var_fold(vals):
        m2 = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x * x)
        m1 = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
        return m2 / F.col("n") - F.pow(m1 / F.col("n"), 2)

    rs = F.col("sv.r")
    sr = F.zip_with(F.col("sv.s"), F.col("sv.r"), lambda s, r: s + r)
    tr2 = F.zip_with(F.col("sv.t"), F.col("sv.r"), lambda t, r: t + r)
    vars_df = arrs.select(
        "event_type",
        "n",
        var_fold(rs).alias("v_r"),
        var_fold(sr).alias("v_sr"),
        var_fold(tr2).alias("v_tr"),
    )
    return vars_df.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.round(
            F.greatest(F.lit(0.0), 1.0 - F.col("v_r") / F.col("v_sr")), 6
        ).alias("seasonal_strength"),
        F.round(
            F.greatest(F.lit(0.0), 1.0 - F.col("v_r") / F.col("v_tr")), 6
        ).alias("trend_strength"),
    )


# --------------------------------------------------------------------------
# Embeddings — distance-to-centroid outliers (median/MAD normalized)
# --------------------------------------------------------------------------
@query(
    "llm_semantic_outliers",
    oracle="""
    WITH ex AS (
      SELECT vec_id, label,
             unnest(generate_series(1, len(embedding))) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    cents AS (SELECT label, dim, round(avg(val), 6) AS c
              FROM ex GROUP BY label, dim),
    dists AS (
      SELECT vec_id, ex.label,
             floor(sqrt(list_reduce(
                     list_prepend(CAST(0.0 AS DOUBLE),
                       list((val - c) * (val - c) ORDER BY ex.dim)),
                     (a, x) -> a + x)) * 1000000 + 0.5) / 1000000 AS d
      FROM ex JOIN cents ON ex.label = cents.label AND ex.dim = cents.dim
      GROUP BY vec_id, ex.label
    ),
    med AS (SELECT label, quantile_cont(d, 0.5) AS m FROM dists
            GROUP BY label),
    mad AS (SELECT dists.label, quantile_cont(abs(d - m), 0.5) AS mad
            FROM dists JOIN med USING (label) GROUP BY dists.label)
    SELECT vec_id, dists.label,
           round(d, 6) AS dist,
           round(m, 6) AS med_dist,
           round(abs(d - m) / (1.4826 * mad.mad), 6) AS robust_z
    FROM dists JOIN med USING (label) JOIN mad USING (label)
    WHERE abs(d - m) / (1.4826 * mad.mad) > 2.0
    """,
)
def llm_semantic_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection: distance of each vector to
    its label centroid, normalized by the label's MEDIAN/MAD (exact
    order statistics — the robust-z recipe of events_anomaly_mad
    lifted into vector space; no unordered float sums anywhere in the
    normalization). Flags |z| > 2 — mislabeled or out-of-distribution
    vectors, the embedding-quality gate before training retrieval
    models. Centroid state is |labels|×|dims| at any corpus size; the
    per-vector distance folds its 64 dims in dim order."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cents = ex.groupBy("label", "dim").agg(
        F.round(F.avg("val"), 6).alias("c")
    )
    joined = ex.join(F.broadcast(cents), ["label", "dim"]).select(
        "vec_id",
        "label",
        "dim",
        ((F.col("val") - F.col("c")) * (F.col("val") - F.col("c"))).alias(
            "sq"
        ),
    )
    folded = joined.groupBy("vec_id", "label").agg(
        F.array_sort(F.collect_list(F.struct("dim", "sq"))).alias("sv")
    )
    dist = q6(
        F.sqrt(F.aggregate(F.col("sv.sq"), F.lit(0.0), lambda a, x: a + x))
    )
    dists = folded.select("vec_id", "label", dist.alias("d"))
    med = dists.groupBy("label").agg(
        F.percentile(F.col("d"), F.lit(0.5)).alias("m")
    )
    mad = (
        dists.join(F.broadcast(med), "label")
        .groupBy("label")
        .agg(
            F.percentile(F.abs(F.col("d") - F.col("m")), F.lit(0.5)).alias(
                "mad"
            )
        )
    )
    rz = F.abs(F.col("d") - F.col("m")) / (1.4826 * F.col("mad"))
    return (
        dists.join(F.broadcast(med), "label")
        .join(F.broadcast(mad), "label")
        .filter(rz > 2.0)
        .select(
            "vec_id",
            "label",
            F.round("d", 6).alias("dist"),
            F.round("m", 6).alias("med_dist"),
            F.round(rz, 6).alias("robust_z"),
        )
    )


# --------------------------------------------------------------------------
# Join optimization — explicit Bloom prefilter, result-invariant
# --------------------------------------------------------------------------
_BLOOM_M2, _BLOOM_K2 = 4096, 3


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_acctbal >= 9000
    GROUP BY c.c_mktsegment
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered join whose RESULT must equal the plain join
    (the oracle is the unoptimized SQL — optimization invisibility,
    same discipline as join_salted): a 4096-bit / k=3 Bloom filter
    built from the selective customer side's keys prefilters the fact
    scan before the real join. False positives survive the prefilter
    but die in the join, so semantics are exact while the fact-side
    shuffle shrinks to ~|matching|+FP rows — the explicit form of the
    runtime-filter pushdown Spark applies to big joins at scale, here
    as a first-class operator with deterministic md5 bit positions.
    Revenue sums in DECIMAL(18,2): exact, order-independent money
    math."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") >= 9000)

    def positions(df, keycol):
        return df.select(
            F.col(keycol),
            F.explode(
                F.array(
                    *[
                        (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat(
                                            F.lit(f"{i}:"),
                                            F.col(keycol).cast("string"),
                                        )
                                    ),
                                    1,
                                    8,
                                ),
                                16,
                                10,
                            ).cast("long")
                            % _BLOOM_M2
                        )
                        for i in range(_BLOOM_K2)
                    ]
                )
            ).alias("bit"),
        )

    bits = positions(cust, "c_custkey").select("bit").distinct()
    probe = positions(orders.select("o_custkey").distinct(), "o_custkey")
    passed = (
        probe.join(F.broadcast(bits), "bit")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("nb"))
        .filter(F.col("nb") == _BLOOM_K2)
        .select("o_custkey")
    )
    pref = orders.join(F.broadcast(passed), "o_custkey", "left_semi")
    # customer scales with SF — no forced broadcast; AQE picks BHJ at
    # small scale and falls back to a shuffle join when it outgrows
    # the threshold
    joined = pref.join(
        cust.select("c_custkey", "c_mktsegment"),
        pref.o_custkey == F.col("c_custkey"),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
    )
