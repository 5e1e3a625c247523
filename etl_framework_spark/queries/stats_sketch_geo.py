"""Contract keys: ``stats_ks_test``, ``stats_mannwhitney``, ``sketch_cms``,
``sketch_bloom``, ``sketch_ams_f2``, ``sketch_kmv_distinct``,
``sketch_kmv_windowed``, ``sketch_kmv_jaccard``, ``ts_cusum``, ``fn_geo``,
``llm_kn_bigram``, ``llm_eval_xent``, ``shard_manifest``.

Nonparametric statistical tests, deterministic
sketch structures, geospatial functions, and LM-evaluation operators.

Scale notes (100 TB framing — every op is one or two partial-agg
shuffles followed by bounded-size reductions):

- ``stats_ks_test`` / ``stats_mannwhitney``: the fact scan reduces to
  per-distinct-value group counts first (one shuffle, |distinct
  values| rows); the ECDF / midrank windows then run over that bounded
  aggregate, never over raw events.
- ``sketch_cms`` / ``sketch_bloom``: Count-Min and Bloom built from
  DETERMINISTIC md5-derived hash functions, so the sketches themselves
  carry an exact DuckDB oracle — the estimate-vs-exact error is
  measured, not assumed. Counter/bit tables are fixed-size (d×w / m
  rows) at ANY corpus size; only the token/key frequency shuffle
  scales with data. This is the mergeable-partial-aggregate pattern:
  each executor could build its local counter table and the groupBy
  sum IS the sketch merge.
- ``ts_cusum``: per-key ordered fold (strict left-to-right IEEE
  sequence, DuckDB list_reduce twin) over the daily series — state
  bounded by one key's history, the applyInPandasWithState shape.
- ``fn_geo``: pure per-row math (haversine, grid cells) + only
  order-independent aggregates (count/min/max over pre-quantized
  values) — no float-sum nondeterminism at any parallelism.
- ``llm_kn_bigram`` / ``llm_eval_xent``: model tables are vocab-sized
  aggregates broadcast back over the stream; the test-side
  cross-entropy folds per-language over the sorted per-token terms
  (strict fold ↔ DuckDB list_reduce), so no unordered float sum.
- ``shard_manifest``: output-shard assignment is pure arithmetic on
  doc_id (Knuth multiplicative hash) — reproducible across engines,
  runs, and partitionings; the report is |shards| rows at any scale.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.rounding import q6
from etl_framework_spark.registry import query

# Knuth multiplicative-hash constants (same family as train_split).
_K = 2654435761
_MOD = 4294967296

# KS / Mann-Whitney sample definitions: two event populations.
_GA, _GB = "view", "click"

# Count-Min sketch geometry: d hash rows × w buckets (256 counters —
# fixed size at any corpus scale).
_CMS_D, _CMS_W = 4, 64
_CMS_TOP = 20

# Bloom filter geometry: m bits, k hash functions.
_BLOOM_M, _BLOOM_K = 2048, 3

# CUSUM parameters: slack k = 0.5·σ, decision threshold h = 4·σ.
_CUSUM_KAPPA, _CUSUM_H = 0.5, 4.0

# Kneser-Ney absolute discount.
_KN_D = 0.75
_KN_TOP = 20

# Train/test split share (same constant as training.train_split).
_TRAIN_LT = 3865470566  # floor(0.9 * 2^32)

_SHARDS = 16


# --------------------------------------------------------------------------
# Nonparametric tests — two-sample KS
# --------------------------------------------------------------------------
@query(
    "stats_ks_test",
    oracle=f"""
    WITH per AS (
      SELECT value,
             sum(CASE WHEN event_type = '{_GA}' THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN event_type = '{_GB}' THEN 1 ELSE 0 END) AS c2
      FROM events WHERE event_type IN ('{_GA}', '{_GB}')
      GROUP BY value
    ),
    cum AS (
      SELECT sum(c1) OVER (ORDER BY value
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS f1,
             sum(c2) OVER (ORDER BY value
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS f2,
             sum(c1) OVER () AS n1,
             sum(c2) OVER () AS n2
      FROM per
    )
    SELECT CAST(max(n1) AS BIGINT) AS n1,
           CAST(max(n2) AS BIGINT) AS n2,
           round(max(abs(f1 * 1.0 / n1 - f2 * 1.0 / n2)), 6) AS d_stat,
           round(1.3581015157406195
                 * sqrt((max(n1) + max(n2)) * 1.0 / (max(n1) * max(n2))), 6)
             AS d_crit,
           max(abs(f1 * 1.0 / n1 - f2 * 1.0 / n2))
             > 1.3581015157406195
               * sqrt((max(n1) + max(n2)) * 1.0 / (max(n1) * max(n2)))
             AS significant
    FROM cum
    """,
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the `value`
    distributions of two event populations (view vs click): D = max
    ECDF gap over the pooled support, compared against the alpha=.05
    large-sample critical value c(α)·sqrt((n1+n2)/(n1·n2)). The fact
    scan collapses to per-distinct-value counts first; the ECDF
    window and the final max run over that bounded aggregate. On this
    synthetic traffic both populations draw from the same generator —
    the two-sample A/A sanity check for distribution-shift monitors."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_GA, _GB)
    )
    per = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == _GA, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == _GB, 1).otherwise(0)).alias("c2"),
    )
    wcum = W.orderBy("value").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = per.select(
        F.sum("c1").over(wcum).alias("f1"),
        F.sum("c2").over(wcum).alias("f2"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
    )
    gap = F.abs(F.col("f1") / F.col("n1") - F.col("f2") / F.col("n2"))
    crit = F.lit(1.3581015157406195) * F.sqrt(
        (F.max("n1") + F.max("n2")) / (F.max("n1") * F.max("n2")).cast("double")
    )
    return cum.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
        F.round(F.max(gap), 6).alias("d_stat"),
        F.round(crit, 6).alias("d_crit"),
        (F.max(gap) > crit).alias("significant"),
    )


# --------------------------------------------------------------------------
# Nonparametric tests — Mann-Whitney U (rank-sum, tie-corrected)
# --------------------------------------------------------------------------
@query(
    "stats_mannwhitney",
    oracle=f"""
    WITH per AS (
      SELECT value,
             sum(CASE WHEN event_type = '{_GA}' THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN event_type = '{_GB}' THEN 1 ELSE 0 END) AS c2
      FROM events WHERE event_type IN ('{_GA}', '{_GB}')
      GROUP BY value
    ),
    rk AS (
      SELECT c1, c2, (c1 + c2) AS t,
             sum(c1 + c2) OVER (ORDER BY value
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cumt
      FROM per
    ),
    s AS (
      SELECT sum(c1) AS n1, sum(c2) AS n2,
             sum(c1 * (cumt - t + (t + 1) / 2.0)) AS r1,
             sum(CAST(t AS DOUBLE) * t * t - t) AS ties
      FROM rk
    )
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           round(r1 - n1 * (n1 + 1) / 2.0, 6) AS u1,
           round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                 / sqrt(n1 * 1.0 * n2 / 12.0
                        * ((n1 + n2 + 1)
                           - ties / ((n1 + n2) * 1.0 * (n1 + n2 - 1)))), 6)
             AS z,
           abs((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
               / sqrt(n1 * 1.0 * n2 / 12.0
                      * ((n1 + n2 + 1)
                         - ties / ((n1 + n2) * 1.0 * (n1 + n2 - 1)))))
             > 1.959963984540054 AS significant
    FROM s
    """,
)
def stats_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (tie-corrected normal
    approximation) between the same two event populations — the
    robust two-sample location test for non-normal metrics. Midranks
    come from one cumulative window over the per-distinct-value
    counts (midrank = cum - t + (t+1)/2), so ties get the exact
    average rank without ever ranking raw rows; U, the tie-corrected
    σ, and z reduce from the same bounded aggregate."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_GA, _GB)
    )
    per = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == _GA, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == _GB, 1).otherwise(0)).alias("c2"),
    )
    wcum = W.orderBy("value").rowsBetween(W.unboundedPreceding, W.currentRow)
    t = F.col("c1") + F.col("c2")
    rk = per.select(
        "c1",
        "c2",
        t.alias("t"),
        F.sum(t).over(wcum).alias("cumt"),
    )
    midrank = F.col("cumt") - F.col("t") + (F.col("t") + 1) / F.lit(2.0)
    s = rk.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.col("c1") * midrank).alias("r1"),
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")
        ).alias("ties"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1 = F.col("r1") - n1 * (n1 + 1) / F.lit(2.0)
    nn = n1 + n2
    sigma = F.sqrt(
        n1 * F.lit(1.0) * n2 / F.lit(12.0)
        * ((nn + 1) - F.col("ties") / (nn * F.lit(1.0) * (nn - 1)))
    )
    z = (u1 - n1 * n2 / F.lit(2.0)) / sigma
    return s.select(
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        F.round(u1, 6).alias("u1"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.959963984540054).alias("significant"),
    )


# --------------------------------------------------------------------------
# Sketches — Count-Min with deterministic md5 hash rows (exact oracle)
# --------------------------------------------------------------------------
def _cms_bucket_spark(j: int):
    h = F.md5(F.concat(F.lit(f"{j}:"), F.col("tok")))
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % _CMS_W
    ).alias("bucket")


def _cms_bucket_duck(j: str, tok: str) -> str:
    return (
        f"CAST(('0x' || substr(md5({j} || ':' || {tok}), 1, 8))::UBIGINT"
        f" % {_CMS_W} AS BIGINT)"
    )


@query(
    "sketch_cms",
    oracle=f"""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
                 FROM documents),
    freq AS (SELECT tok, count(*) AS freq FROM tok GROUP BY tok),
    hashed AS (
      SELECT f.tok, f.freq, j.j,
             {_cms_bucket_duck("j.j::VARCHAR", "f.tok")} AS bucket
      FROM freq f
      CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS j) j
    ),
    counters AS (
      SELECT j, bucket, sum(freq) AS counter
      FROM hashed GROUP BY j, bucket
    ),
    top AS (
      SELECT tok, freq FROM freq
      ORDER BY freq DESC, tok LIMIT {_CMS_TOP}
    ),
    probe AS (
      SELECT t.tok, t.freq, h.j, h.bucket
      FROM top t JOIN hashed h ON h.tok = t.tok
    )
    SELECT p.tok,
           CAST(p.freq AS BIGINT) AS exact_freq,
           CAST(min(c.counter) AS BIGINT) AS cms_est,
           CAST(min(c.counter) - p.freq AS BIGINT) AS overestimate
    FROM probe p JOIN counters c ON c.j = p.j AND c.bucket = p.bucket
    GROUP BY p.tok, p.freq
    """,
)
def sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch ({_CMS_D}×{_CMS_W} counters) over the corpus
    token stream, with DETERMINISTIC hash rows (md5-prefix mod w), so
    the whole sketch — build AND probe — carries an exact DuckDB
    oracle. Reports estimate vs exact count for the top-20 tokens:
    overestimate >= 0 always (CMS never undercounts). The counter
    table is fixed-size at any corpus scale and is a mergeable partial
    aggregate: per-executor local counters sum into the global sketch,
    exactly how a 1000-executor build would run. Only the token
    frequency reduction shuffles data."""
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    hashed = freq.select(
        "tok",
        "freq",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), _cms_bucket_spark(j)
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("h"),
    ).select("tok", "freq", F.col("h.j").alias("j"), F.col("h.bucket").alias("bucket"))
    counters = hashed.groupBy("j", "bucket").agg(F.sum("freq").alias("counter"))
    top = freq.orderBy(F.col("freq").desc(), "tok").limit(_CMS_TOP)
    probe = top.join(hashed.select("tok", "j", "bucket"), "tok")
    return (
        probe.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("tok", "freq")
        .agg(F.min("counter").alias("cms"))
        .select(
            "tok",
            F.col("freq").cast("bigint").alias("exact_freq"),
            F.col("cms").cast("bigint").alias("cms_est"),
            (F.col("cms") - F.col("freq")).cast("bigint").alias("overestimate"),
        )
    )


# --------------------------------------------------------------------------
# Sketches — Bloom filter membership with deterministic bit positions
# --------------------------------------------------------------------------
@query(
    "sketch_bloom",
    oracle=f"""
    WITH members AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1995-02-01'
    ),
    bits AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(i.i::VARCHAR || ':' || m.o_custkey::VARCHAR),
                                  1, 8))::UBIGINT % {_BLOOM_M} AS BIGINT) AS bit
      FROM members m
      CROSS JOIN (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS i) i
    ),
    probes AS (
      SELECT c.c_custkey, i.i,
             CAST(('0x' || substr(md5(i.i::VARCHAR || ':' || c.c_custkey::VARCHAR),
                                  1, 8))::UBIGINT % {_BLOOM_M} AS BIGINT) AS bit
      FROM customer c
      CROSS JOIN (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS i) i
    ),
    hits AS (
      SELECT p.c_custkey, count(*) AS nbits
      FROM probes p JOIN bits b ON b.bit = p.bit
      GROUP BY p.c_custkey HAVING count(*) = {_BLOOM_K}
    ),
    verdicts AS (
      SELECT c.c_custkey,
             (h.c_custkey IS NOT NULL) AS predicted,
             (m.o_custkey IS NOT NULL) AS actual
      FROM customer c
      LEFT JOIN hits h ON h.c_custkey = c.c_custkey
      LEFT JOIN members m ON m.o_custkey = c.c_custkey
    )
    SELECT CAST((SELECT count(*) FROM members) AS BIGINT) AS n_members,
           CAST((SELECT count(*) FROM bits) AS BIGINT) AS bits_set,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(CASE WHEN predicted AND actual THEN 1 ELSE 0 END)
                AS BIGINT) AS true_pos,
           CAST(sum(CASE WHEN predicted AND NOT actual THEN 1 ELSE 0 END)
                AS BIGINT) AS false_pos,
           CAST(sum(CASE WHEN NOT predicted AND actual THEN 1 ELSE 0 END)
                AS BIGINT) AS false_neg,
           round(sum(CASE WHEN predicted AND NOT actual THEN 1 ELSE 0 END)
                 * 1.0
                 / nullif(sum(CASE WHEN NOT actual THEN 1 ELSE 0 END), 0), 6)
             AS fp_rate
    FROM verdicts
    """,
)
def sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter ({_BLOOM_M} bits, k={_BLOOM_K}) built over the
    customers who ordered in 1995-01, probed with ALL customers —
    bit positions are deterministic md5-derived hashes, so build,
    probe, and the false-positive accounting all carry an exact
    oracle (and false_neg == 0 MUST hold: Blooms never miss). The
    filter is |set-bits| rows (≤ m) at any scale and broadcast to the
    probe side — the semi-join-pushdown pattern Spark itself uses for
    runtime row-group pruning; only the member distinct shuffles."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    members = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-02-01").cast("timestamp"))
        )
        .select("o_custkey")
        .distinct()
    )

    def positions(df: DataFrame, keycol: str) -> DataFrame:
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
                            % _BLOOM_M
                        )
                        for i in range(_BLOOM_K)
                    ]
                )
            ).alias("bit"),
        )

    bits = positions(members, "o_custkey").select("bit").distinct()
    probes = positions(cust, "c_custkey")
    hits = (
        probes.join(F.broadcast(bits), "bit")
        .groupBy("c_custkey")
        .agg(F.count("*").alias("nbits"))
        .filter(F.col("nbits") == _BLOOM_K)
        .select("c_custkey", F.lit(True).alias("predicted"))
    )
    verdicts = (
        cust.select("c_custkey")
        .join(hits, "c_custkey", "left")
        .join(
            F.broadcast(members.withColumnRenamed("o_custkey", "c_custkey"))
            .withColumn("actual", F.lit(True)),
            "c_custkey",
            "left",
        )
        .select(
            F.coalesce(F.col("predicted"), F.lit(False)).alias("predicted"),
            F.coalesce(F.col("actual"), F.lit(False)).alias("actual"),
        )
    )
    n_members = members.count()
    bits_set = bits.count()
    p, a = F.col("predicted"), F.col("actual")
    return verdicts.agg(
        F.lit(n_members).cast("bigint").alias("n_members"),
        F.lit(bits_set).cast("bigint").alias("bits_set"),
        F.count("*").cast("bigint").alias("n_probes"),
        F.sum(F.when(p & a, 1).otherwise(0)).cast("bigint").alias("true_pos"),
        F.sum(F.when(p & ~a, 1).otherwise(0)).cast("bigint").alias("false_pos"),
        F.sum(F.when(~p & a, 1).otherwise(0)).cast("bigint").alias("false_neg"),
        F.round(
            F.sum(F.when(p & ~a, 1).otherwise(0))
            / F.nullif(F.sum(F.when(~a, 1).otherwise(0)), F.lit(0)).cast(
                "double"
            ),
            6,
        ).alias("fp_rate"),
    )


# --------------------------------------------------------------------------
# Time series — CUSUM changepoint detection (strict ordered fold)
# --------------------------------------------------------------------------
@query(
    "ts_cusum",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM events GROUP BY event_type, day
    ),
    arrs AS (
      SELECT event_type,
             list(cnt ORDER BY day) AS xs,
             list(CAST(epoch(day) AS DOUBLE) ORDER BY day) AS ds
      FROM daily GROUP BY event_type
    ),
    stats AS (
      SELECT event_type, xs, ds, len(xs) AS n,
             list_aggregate(xs, 'sum') / len(xs) AS mu
      FROM arrs
    ),
    sd AS (
      SELECT *,
             sqrt(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                            list_transform(xs, x -> (x - mu) * (x - mu))),
               (acc, el) -> acc + el) / (n - 1)) AS sigma
      FROM stats
    ),
    folded AS (
      SELECT event_type, n, mu, sigma,
             list_reduce(
               list_prepend([CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), ds[1]],
                 list_transform(generate_series(1, n),
                                i -> [xs[i], ds[i], CAST(0.0 AS DOUBLE)])),
               (acc, el) -> [
                 greatest(CAST(0.0 AS DOUBLE),
                          acc[1] + el[1] - mu - {_CUSUM_KAPPA} * sigma),
                 CASE WHEN greatest(CAST(0.0 AS DOUBLE),
                            acc[1] + el[1] - mu - {_CUSUM_KAPPA} * sigma)
                           > acc[2]
                      THEN greatest(CAST(0.0 AS DOUBLE),
                             acc[1] + el[1] - mu - {_CUSUM_KAPPA} * sigma)
                      ELSE acc[2] END,
                 CASE WHEN greatest(CAST(0.0 AS DOUBLE),
                            acc[1] + el[1] - mu - {_CUSUM_KAPPA} * sigma)
                           > acc[2]
                      THEN el[2] ELSE acc[3] END]) AS st
      FROM sd
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           floor(mu * 1000000 + 0.5) / 1000000 AS mu,
           floor(sigma * 1000000 + 0.5) / 1000000 AS sigma,
           floor(st[2] * 1000000 + 0.5) / 1000000 AS cusum_max,
           CAST(st[3] AS BIGINT) AS changepoint_epoch,
           st[2] > {_CUSUM_H} * sigma AS flagged
    FROM folded
    """,
)
def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detector per event type over the
    daily count series: s_i = max(0, s_{{i-1}} + (x_i - μ - κσ)),
    flagging when the peak excursion exceeds hσ (κ=0.5, h=4). The
    recurrence is a strict left fold over one key's ordered history
    with a [s, s_max, argmax_day] accumulator — identical IEEE op
    order to DuckDB's list_reduce over a 3-element list, so the fold
    matches bit-for-bit before emit-boundary quantization. μ and σ
    reduce from the same collected series (σ via the ordered fold as
    well — no unordered float sum anywhere)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("double").alias("cnt"))
    arrs = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "cnt"))).alias("sv")
    )
    xs = F.col("sv.cnt")
    ds = F.transform(
        F.col("sv.day"), lambda d: F.unix_timestamp(d).cast("double")
    )
    n = F.size(xs)
    mu = F.aggregate(xs, F.lit(0.0), lambda a, x: a + x) / n
    prepped = arrs.select(
        "event_type",
        n.alias("n"),
        mu.alias("mu"),
        xs.alias("xs"),
        ds.alias("ds"),
    )
    sigma = F.sqrt(
        F.aggregate(
            F.col("xs"),
            F.lit(0.0),
            lambda a, x: a + (x - F.col("mu")) * (x - F.col("mu")),
        )
        / (F.col("n") - 1)
    )
    sd = prepped.withColumn("sigma", sigma)
    pairs = F.zip_with(
        F.col("xs"), F.col("ds"), lambda x, d: F.struct(x.alias("x"), d.alias("d"))
    )

    def step(acc, el):
        s_new = F.greatest(
            F.lit(0.0),
            acc.s + el.x - F.col("mu") - F.lit(_CUSUM_KAPPA) * F.col("sigma"),
        )
        better = s_new > acc.m
        return F.struct(
            s_new.alias("s"),
            F.when(better, s_new).otherwise(acc.m).alias("m"),
            F.when(better, el.d).otherwise(acc.a).alias("a"),
        )

    st = F.aggregate(
        pairs,
        F.struct(
            F.lit(0.0).alias("s"),
            F.lit(0.0).alias("m"),
            F.element_at(F.col("ds"), 1).alias("a"),
        ),
        step,
    )
    # Two-stage emit: quantized outputs must NOT reuse the names 'mu' /
    # 'sigma' in the same projection that still references those input
    # columns inside the fold — Spark's projection collapse resolves the
    # lambda's F.col('mu') against the new (quantized) alias, silently
    # folding with rounded parameters.
    raw = sd.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("mu").alias("mu_raw"),
        F.col("sigma").alias("sigma_raw"),
        st.m.alias("m_raw"),
        st.a.cast("bigint").alias("changepoint_epoch"),
    )
    return raw.select(
        "event_type",
        "n_days",
        q6(F.col("mu_raw")).alias("mu"),
        q6(F.col("sigma_raw")).alias("sigma"),
        q6(F.col("m_raw")).alias("cusum_max"),
        "changepoint_epoch",
        (F.col("m_raw") > F.lit(_CUSUM_H) * F.col("sigma_raw")).alias(
            "flagged"
        ),
    )


# --------------------------------------------------------------------------
# Geospatial functions — haversine + grid cells (order-independent aggs)
# --------------------------------------------------------------------------
@query(
    "fn_geo",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             ((c_custkey * 37) % 17000) / 100.0 - 85.0 AS lat,
             ((c_custkey * 101) % 36000) / 100.0 - 180.0 AS lon
      FROM customer
    ),
    d AS (
      SELECT floor(lat / 15) AS cell_lat,
             floor(lon / 15) AS cell_lon,
             floor(2 * 6371.0088
                   * asin(sqrt(sin(radians(lat) / 2) * sin(radians(lat) / 2)
                               + cos(radians(lat)) * cos(radians(0.0))
                                 * sin(radians(lon) / 2)
                                 * sin(radians(lon) / 2)))
                   * 1000000 + 0.5) / 1000000 AS dist_km
      FROM pts
    )
    SELECT CAST(cell_lat AS BIGINT) AS cell_lat,
           CAST(cell_lon AS BIGINT) AS cell_lon,
           CAST(count(*) AS BIGINT) AS n_points,
           min(dist_km) AS min_km,
           max(dist_km) AS max_km
    FROM d GROUP BY cell_lat, cell_lon
    """,
)
def fn_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geospatial function family: synthetic-but-deterministic
    lat/lon per customer (pure arithmetic on the key — the testdata
    carries no coordinates), haversine great-circle distance to the
    origin, and 15°×15° grid-cell bucketing (geohash-style spatial
    partitioning). Every aggregate is order-independent (count, min,
    max over per-row values pre-quantized to 6 dp), so the result is
    identical at any parallelism — the rule for float math at 1000
    executors. Output is ≤ 288 cells at any scale."""
    c = table(spark, sf_dir, "customer")
    lat = ((F.col("c_custkey") * 37) % 17000) / 100.0 - 85.0
    lon = ((F.col("c_custkey") * 101) % 36000) / 100.0 - 180.0
    pts = c.select("c_custkey", lat.alias("lat"), lon.alias("lon"))
    rlat, rlon = F.radians(F.col("lat")), F.radians(F.col("lon"))
    hav = (
        F.lit(2 * 6371.0088)
        * F.asin(
            F.sqrt(
                F.sin(rlat / 2) * F.sin(rlat / 2)
                + F.cos(rlat)
                * F.cos(F.radians(F.lit(0.0)))
                * F.sin(rlon / 2)
                * F.sin(rlon / 2)
            )
        )
    )
    d = pts.select(
        F.floor(F.col("lat") / 15).alias("cell_lat"),
        F.floor(F.col("lon") / 15).alias("cell_lon"),
        q6(hav).alias("dist_km"),
    )
    return d.groupBy("cell_lat", "cell_lon").agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.min("dist_km").alias("min_km"),
        F.max("dist_km").alias("max_km"),
    )


# --------------------------------------------------------------------------
# LM — Kneser-Ney-discounted bigram table (top contexts report)
# --------------------------------------------------------------------------
@query(
    "llm_kn_bigram",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    pairs AS (
      SELECT l[i] AS u, l[i + 1] AS v
      FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
            FROM t WHERE len(l) >= 2)
    ),
    c2 AS (SELECT u, v, CAST(count(*) AS DOUBLE) AS c12
           FROM pairs GROUP BY u, v),
    ctx AS (SELECT u, sum(c12) AS c1, CAST(count(*) AS DOUBLE) AS n1plus
            FROM c2 GROUP BY u),
    cont AS (SELECT v, CAST(count(*) AS DOUBLE) AS nleft FROM c2 GROUP BY v),
    tt AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM c2),
    top AS (SELECT u, c1, n1plus FROM ctx
            ORDER BY c1 DESC, u LIMIT {_KN_TOP}),
    best AS (
      SELECT c2.u, c2.v, c2.c12
      FROM c2 JOIN top ON top.u = c2.u
      QUALIFY row_number() OVER (PARTITION BY c2.u
                                 ORDER BY c2.c12 DESC, c2.v) = 1
    )
    SELECT b.u AS w1,
           CAST(t.c1 AS BIGINT) AS c_ctx,
           CAST(t.n1plus AS BIGINT) AS n_continuations,
           b.v AS top_w2,
           CAST(b.c12 AS BIGINT) AS c_pair,
           round(greatest(b.c12 - {_KN_D}, 0) / t.c1
                 + ({_KN_D} * t.n1plus / t.c1)
                   * (cont.nleft / tt.n_types), 6) AS p_kn,
           round(b.c12 / t.c1, 6) AS p_mle
    FROM best b
    JOIN top t ON t.u = b.u
    JOIN cont ON cont.v = b.v
    CROSS JOIN tt
    """,
)
def llm_kn_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (absolute discount
    D=0.75): P(v|u) = max(c(u,v)-D,0)/c(u) + D·N1+(u·)/c(u) ·
    Pcont(v), where the continuation probability counts DISTINCT left
    contexts — the smoothing that separates production LMs from add-1.
    Reports the top-{_KN_TOP} contexts with their modal continuation,
    KN vs MLE probability. All model tables (bigram counts, context
    marginals, continuation counts) are vocab-bounded aggregates of
    one corpus scan; every emitted number is a ratio of exact integer
    counts — no float-order sensitivity."""
    d = table(spark, sf_dir, "documents")
    t = d.select(F.split(F.col("text"), " ").alias("l")).filter(
        F.size("l") >= 2
    )
    prs = t.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("l"), 1, F.size("l") - 1),
                F.slice(F.col("l"), 2, F.size("l") - 1),
                lambda a, b: F.struct(a.alias("u"), b.alias("v")),
            )
        ).alias("p")
    ).select("p.u", "p.v")
    c2 = prs.groupBy("u", "v").agg(F.count("*").cast("double").alias("c12"))
    ctx = c2.groupBy("u").agg(
        F.sum("c12").alias("c1"), F.count("*").cast("double").alias("n1plus")
    )
    cont = c2.groupBy("v").agg(F.count("*").cast("double").alias("nleft"))
    tt = c2.agg(F.count("*").cast("double").alias("n_types"))
    top = ctx.orderBy(F.col("c1").desc(), "u").limit(_KN_TOP)
    wbest = W.partitionBy("u").orderBy(F.col("c12").desc(), "v")
    best = (
        c2.join(F.broadcast(top.select("u")), "u")
        .withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    p_kn = F.greatest(F.col("c12") - _KN_D, F.lit(0.0)) / F.col("c1") + (
        F.lit(_KN_D) * F.col("n1plus") / F.col("c1")
    ) * (F.col("nleft") / F.col("n_types"))
    return (
        best.join(F.broadcast(top), "u")
        .join(F.broadcast(cont), "v")
        .crossJoin(F.broadcast(tt))
        .select(
            F.col("u").alias("w1"),
            F.col("c1").cast("bigint").alias("c_ctx"),
            F.col("n1plus").cast("bigint").alias("n_continuations"),
            F.col("v").alias("top_w2"),
            F.col("c12").cast("bigint").alias("c_pair"),
            F.round(p_kn, 6).alias("p_kn"),
            F.round(F.col("c12") / F.col("c1"), 6).alias("p_mle"),
        )
    )


# --------------------------------------------------------------------------
# LM — held-out cross-entropy of the train-split unigram model
# --------------------------------------------------------------------------
@query(
    "llm_eval_xent",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, text, lang,
             ((doc_id % 1000000007) * {_K}) % {_MOD} < {_TRAIN_LT} AS is_train
      FROM documents
    ),
    trtok AS (SELECT unnest(string_split(text, ' ')) AS tok
              FROM split WHERE is_train),
    model AS (SELECT tok, CAST(count(*) AS DOUBLE) AS c
              FROM trtok GROUP BY tok),
    mstats AS (SELECT sum(c) AS n, CAST(count(*) AS DOUBLE) AS v FROM model),
    tetok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok
      FROM split WHERE NOT is_train
    ),
    tf AS (SELECT lang, tok, CAST(count(*) AS DOUBLE) AS f
           FROM tetok GROUP BY lang, tok),
    terms AS (
      SELECT tf.lang, tf.tok, tf.f,
             (model.tok IS NULL) AS oov,
             floor(tf.f * -log2((coalesce(model.c, 0) + 1.0)
                                / (mstats.n + mstats.v + 1.0))
                   * 1000000 + 0.5) / 1000000 AS term
      FROM tf LEFT JOIN model ON model.tok = tf.tok CROSS JOIN mstats
    )
    SELECT lang,
           CAST(sum(f) AS BIGINT) AS n_test_tokens,
           round(sum(CASE WHEN oov THEN f ELSE 0 END) / sum(f), 6)
             AS oov_rate,
           floor(list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                                list(term ORDER BY tok)),
                   (acc, el) -> acc + el) / sum(f) * 1000000 + 0.5)
             / 1000000 AS xent_bits
    FROM terms GROUP BY lang
    """,
)
def llm_eval_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation: train an add-1 unigram LM on the 90%%
    hash-split train docs, score the 10%% test docs — per-language
    cross-entropy in bits/token plus OOV rate, the first-order
    quality readout of any tokenizer/corpus change. The model is a
    vocab-sized broadcast table; test tokens reduce to (lang, token)
    counts before scoring, so the scored stream is vocab-bounded too.
    Per-term bits are quantized to 6 dp and summed by a strict
    token-ordered fold (DuckDB list_reduce twin) — deterministic
    at any parallelism."""
    d = table(spark, sf_dir, "documents")
    is_train = ((F.col("doc_id") % 1000000007) * _K) % _MOD < _TRAIN_LT
    split = d.select("doc_id", "text", "lang", is_train.alias("is_train"))
    trtok = split.filter("is_train").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    model = trtok.groupBy("tok").agg(F.count("*").cast("double").alias("c"))
    mstats = model.agg(
        F.sum("c").alias("n"), F.count("*").cast("double").alias("v")
    )
    tetok = split.filter(~F.col("is_train")).select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = tetok.groupBy("lang", "tok").agg(
        F.count("*").cast("double").alias("f")
    )
    term = q6(
        F.col("f")
        * -F.log2(
            (F.coalesce(F.col("c"), F.lit(0.0)) + 1.0)
            / (F.col("n") + F.col("v") + 1.0)
        )
    )
    terms = (
        tf.join(F.broadcast(model), "tok", "left")
        .crossJoin(F.broadcast(mstats))
        .select(
            "lang",
            "tok",
            "f",
            F.col("c").isNull().alias("oov"),
            term.alias("term"),
        )
    )
    folded = terms.groupBy("lang").agg(
        F.sum("f").alias("ftot"),
        F.sum(F.when(F.col("oov"), F.col("f")).otherwise(0.0)).alias("foov"),
        F.array_sort(F.collect_list(F.struct("tok", "term"))).alias("sv"),
    )
    xent = (
        F.aggregate(F.col("sv.term"), F.lit(0.0), lambda a, x: a + x)
        / F.col("ftot")
    )
    return folded.select(
        "lang",
        F.col("ftot").cast("bigint").alias("n_test_tokens"),
        F.round(F.col("foov") / F.col("ftot"), 6).alias("oov_rate"),
        q6(xent).alias("xent_bits"),
    )


# --------------------------------------------------------------------------
# Training pipeline — output-shard manifest (skew report)
# --------------------------------------------------------------------------
@query(
    "shard_manifest",
    oracle=f"""
    WITH assigned AS (
      SELECT CAST(((doc_id % 1000000007) * {_K}) % {_MOD} % {_SHARDS} AS BIGINT) AS shard,
             n_chars,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    per AS (
      SELECT shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM assigned GROUP BY shard
    )
    SELECT shard, n_docs, n_tokens, n_chars,
           round(n_tokens * 1.0
                 / (sum(n_tokens) OVER () * 1.0 / {_SHARDS}), 6)
             AS load_ratio
    FROM per
    """,
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-shard manifest for tokenizer/training-shard writes:
    docs assigned to {_SHARDS} shards by multiplicative hash (pure
    arithmetic — reproducible across engines, runs, partitionings,
    and the exact assignment a writer's partitionBy(shard) would use),
    reporting per-shard doc/token/char totals and token-load ratio vs
    the uniform share — the skew report that decides whether shard
    writes need salting. One partial-agg shuffle; |shards| output
    rows at any scale."""
    d = table(spark, sf_dir, "documents")
    assigned = d.select(
        (((F.col("doc_id") % 1000000007) * _K) % _MOD % _SHARDS).cast("bigint").alias("shard"),
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    per = assigned.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return per.select(
        "shard",
        "n_docs",
        "n_tokens",
        "n_chars",
        F.round(
            F.col("n_tokens")
            / (F.sum("n_tokens").over(wall) / F.lit(float(_SHARDS))),
            6,
        ).alias("load_ratio"),
    )


# --------------------------------------------------------------------------
# AMS tug-of-war sketch — self-join-size / F2 estimation (exact oracle)
# --------------------------------------------------------------------------
_AMS_J = 256       # sign counters
_TWO32_AMS = 4294967296  # 2^32 — md5-prefix uniform denominator
_AMS_GROUPS = 16   # median-of-means: 16 groups × 16 counters


@query(
    "sketch_ams_f2",
    oracle=f"""
    WITH df AS (
      SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1
    ),
    exact AS (SELECT sum(c * c) AS f2 FROM df),
    js AS (SELECT unnest(generate_series(0, {_AMS_J - 1})) AS j),
    z AS (
      SELECT js.j,
             sum(df.c * (CAST(('0x' || substr(md5(js.j::VARCHAR || ':' ||
                                              df.k::VARCHAR), 1, 8))::UBIGINT
                              % 2 AS BIGINT) * 2 - 1)) AS zj
      FROM df CROSS JOIN js GROUP BY js.j
    ),
    grp AS (
      SELECT j % {_AMS_GROUPS} AS g, sum(zj * zj) AS gsum
      FROM z GROUP BY 1
    ),
    est AS (
      SELECT median(CAST(gsum AS DOUBLE)) / {_AMS_J // _AMS_GROUPS}.0
               AS ams_est
      FROM grp
    )
    SELECT CAST(exact.f2 AS BIGINT) AS exact_f2,
           round(est.ams_est, 2) AS ams_est,
           round(abs(est.ams_est - exact.f2) / exact.f2, 6) AS rel_err
    FROM exact CROSS JOIN est
    """,
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join-size / second-frequency-moment estimation with the
    AMS tug-of-war sketch (Alon-Matias-Szegedy STOC'96): 256 sign
    counters Z_j = Σ_k df(k)·s_j(k) with DETERMINISTIC md5 signs,
    median of 16 group-means of Z_j² — the one-pass, mergeable
    statistic a planner uses to predict the Σdf² shuffle blowup of a
    self-join (the exact quantity this repo's dedup docstrings warn
    about) BEFORE running it. Each Z_j is a plain sum, so the sketch
    partial-aggregates across 1000 executors in one shuffle; the
    estimate is exact-integer until the final median-of-means
    division, so the DuckDB oracle pins build AND probe (CMS cannot
    estimate F2 usefully — its inner-product error grows with F1²/w;
    AMS error is a RELATIVE √(2/16)≈18%-per-group, tamed by the
    median). The rel_err column measures the estimator against the
    exact Σdf² computed alongside. Ref: reference sketch-estimator
    tests (cf. sketch_cms, agg_approx_distinct)."""
    li = table(spark, sf_dir, "lineitem")
    df = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count("*").alias("c")
    )
    exact = df.agg(F.sum(F.col("c") * F.col("c")).alias("f2"))
    sign = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j"), F.lit(":"), F.col("k"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
    ) * 2 - 1
    # r11 optimization: the ×256 sign expansion (256·|parts| md5+conv
    # evaluations — 5.1M at sf0.1) ran single-threaded, the whole
    # ~4.5 s of this key. Two optimizer effects conspire: a keyed
    # repartition(N, "k") is ELIMINATED because the rollup's own
    # exchange already hash-partitions by the same key, and AQE then
    # coalesces that tiny (~20k-row) exchange to ONE partition — AQE
    # sizes partitions by exchange bytes and cannot see that the
    # downstream fan-out multiplies rows 256×. A keyless round-robin
    # repartition is not subsumed by the existing partitioning, so it
    # survives and spreads the fan-out over every core (sign stage
    # 4.25 s → 0.33 s measured at sf0.1). The sort-before-repartition
    # cost is on ~20k tiny rows — free. Scale-adaptive:
    # defaultParallelism, not a constant. The broadcast-range
    # crossJoin is replaced by an inlined explode(sequence) — same
    # rows, no BNLJ node, no broadcast job.
    z = (
        df.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "k",
            "c",
            F.explode(F.sequence(F.lit(0), F.lit(_AMS_J - 1)).cast("array<int>")).alias("j"),
        )
        .groupBy("j")
        .agg(F.sum(F.col("c") * sign).alias("zj"))
    )
    grp = z.groupBy((F.col("j") % _AMS_GROUPS).alias("g")).agg(
        F.sum(F.col("zj") * F.col("zj")).alias("gsum")
    )
    est = grp.agg(
        (
            F.percentile(F.col("gsum").cast("double"), 0.5)
            / float(_AMS_J // _AMS_GROUPS)
        ).alias("ams_est")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        F.col("f2").cast("bigint").alias("exact_f2"),
        F.round("ams_est", 2).alias("ams_est"),
        F.round(
            F.abs(F.col("ams_est") - F.col("f2")) / F.col("f2"), 6
        ).alias("rel_err"),
    )


# --------------------------------------------------------------------------
# KMV (k-minimum-values) sketch — distinct-count / F0 estimation
# --------------------------------------------------------------------------
_KMV_K = 256


@query(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH keys AS (SELECT DISTINCT o_custkey AS k FROM orders),
    hashed AS (
      SELECT (('0x' || substr(md5('kmv:' || k), 1, 8))::UBIGINT + 0.5)
               / {_TWO32_AMS}.0 AS u
      FROM keys
    ),
    exact AS (SELECT count(*) AS f0 FROM keys),
    kth AS (
      SELECT max(u) AS uk, count(*) AS kk
      FROM (SELECT u FROM hashed ORDER BY u LIMIT {_KMV_K})
    )
    SELECT CAST(exact.f0 AS BIGINT) AS exact_distinct,
           round(CASE WHEN kth.kk < {_KMV_K} THEN CAST(kth.kk AS DOUBLE)
                      ELSE ({_KMV_K} - 1) / kth.uk END, 2) AS kmv_est,
           round(abs(CASE WHEN kth.kk < {_KMV_K} THEN CAST(kth.kk AS DOUBLE)
                          ELSE ({_KMV_K} - 1) / kth.uk END - exact.f0)
                 / exact.f0, 6) AS rel_err
    FROM exact CROSS JOIN kth
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count (F0) estimation with the k-minimum-values
    sketch (Bar-Yossef et al. RANDOM'02; Beyer et al. SIGMOD'07
    unbiased (k−1)/u_(k) form): hash every key to a DETERMINISTIC
    md5-uniform in (0,1), keep the k=256 smallest, estimate
    (k−1)/u_(k) — or the exact count when fewer than k keys exist
    (the sketch IS exact below its capacity). Completes this repo's
    exact-oracle sketch trilogy — CMS (point frequency), AMS (F2 /
    self-join size), KMV (F0 / distinct) — all deterministic, all
    mergeable: the k smallest hashes of a union are a merge of per-
    partition k-smallest lists, which is how 1000 executors combine
    (TakeOrdered, no global sort); HLL (agg_approx_distinct) remains
    the rows-only production path, KMV is the one whose estimate an
    oracle can pin bit-for-bit. Ref: reference distinct-sketch tests
    (cf. agg_approx_distinct, agg_hll_merge)."""
    orders = table(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_custkey").alias("k")).distinct()
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("kmv:"), F.col("k"))), 1, 8),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(float(_TWO32_AMS))
    hashed = keys.select(u.alias("u"))
    exact = keys.agg(F.count("*").alias("f0"))
    kth = (
        hashed.orderBy("u")
        .limit(_KMV_K)
        .agg(F.max("u").alias("uk"), F.count("*").alias("kk"))
    )
    est = F.when(
        F.col("kk") < _KMV_K, F.col("kk").cast("double")
    ).otherwise((_KMV_K - 1) / F.col("uk"))
    return exact.crossJoin(F.broadcast(kth)).select(
        F.col("f0").cast("bigint").alias("exact_distinct"),
        F.round(est, 2).alias("kmv_est"),
        F.round(F.abs(est - F.col("f0")) / F.col("f0"), 6).alias("rel_err"),
    )


# --------------------------------------------------------------------------
# KMV merge — trailing-window distinct users from per-day sketches
# --------------------------------------------------------------------------
_KMVW_K = 32
_KMVW_DAYS = 6  # trailing window = day-6 .. day (7 days)


@query(
    "sketch_kmv_windowed",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    items AS (
      SELECT day, user_id,
             ((('0x' || substr(md5('kmvw:' || user_id), 1, 8))::UBIGINT
               + 0.5) / 4294967296.0) AS u
      FROM du
    ),
    topd AS (
      SELECT day, u FROM (
        SELECT day, u,
               row_number() OVER (
                 PARTITION BY day ORDER BY u, user_id
               ) AS rk
        FROM items
      ) WHERE rk <= {_KMVW_K}
    ),
    wind AS (
      SELECT d.day AS day, t.u
      FROM days d JOIN topd t
        ON t.day BETWEEN d.day - {_KMVW_DAYS} AND d.day
      GROUP BY 1, 2
    ),
    wtop AS (
      SELECT day, u,
             row_number() OVER (PARTITION BY day ORDER BY u) AS rk
      FROM wind
    ),
    kmv AS (
      SELECT day, count(*) AS kk, max(u) AS uk
      FROM wtop WHERE rk <= {_KMVW_K} GROUP BY day
    ),
    exact AS (
      SELECT d.day AS day, count(DISTINCT du.user_id) AS exact_users
      FROM days d JOIN du ON du.day BETWEEN d.day - {_KMVW_DAYS} AND d.day
      GROUP BY 1
    )
    SELECT strftime(exact.day, '%Y-%m-%d') AS day,
           CAST(exact.exact_users AS BIGINT) AS exact_users,
           round(CASE WHEN kmv.kk < {_KMVW_K}
                      THEN CAST(kmv.kk AS DOUBLE)
                      ELSE ({_KMVW_K} - 1) / kmv.uk END, 2) AS kmv_est,
           round(abs(CASE WHEN kmv.kk < {_KMVW_K}
                          THEN CAST(kmv.kk AS DOUBLE)
                          ELSE ({_KMVW_K} - 1) / kmv.uk END
                     - exact.exact_users) / exact.exact_users, 6)
             AS rel_err
    FROM exact JOIN kmv ON exact.day = kmv.day
    ORDER BY exact.day
    """,
)
def sketch_kmv_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day, estimated by MERGING
    per-day KMV sketches — the operation the sketch trilogy's
    mergeability claim is actually about, exercised rather than
    asserted: each day keeps only its k=32 smallest md5-uniforms
    (bounded state per partition), and a window's estimate is the
    re-top-k of the union of its days' lists — the same merge 1000
    executors (or 1000 days of history) perform, with cost
    k·window_days per output row regardless of event volume. The
    exact trailing distinct is computed alongside; rel_err measures
    the k=32 estimator (below-capacity windows fall back to the
    exact count — sf0.001's early one-day windows exercise that
    branch, the full windows exercise estimation; note the fixture
    has only 150 distinct users at sf0.01 and all are active weekly,
    so saturated windows share one population and hence one draw —
    the per-day variation lives at the ramp-up edge). Ref: reference
    windowed-distinct tests (cf. events_sliding_uniques — the exact
    cousin whose state grows with |users|, which is why the sketch
    exists)."""
    ev = table(spark, sf_dir, "events")
    du = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmvw:"), F.col("user_id"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(float(_TWO32_AMS))
    items = du.select("day", "user_id", u.alias("u"))
    wd = W.partitionBy("day").orderBy("u", "user_id")
    topd = (
        items.withColumn("rk", F.row_number().over(wd))
        .filter(F.col("rk") <= _KMVW_K)
        .select(F.col("day").alias("tday"), "u")
    )
    wind = (
        days.join(
            F.broadcast(topd),
            (F.col("tday") >= F.date_sub(F.col("day"), _KMVW_DAYS))
            & (F.col("tday") <= F.col("day")),
        )
        .select("day", "u")
        .distinct()
    )
    wtop = wind.withColumn(
        "rk", F.row_number().over(W.partitionBy("day").orderBy("u"))
    ).filter(F.col("rk") <= _KMVW_K)
    kmv = wtop.groupBy("day").agg(
        F.count("*").alias("kk"), F.max("u").alias("uk")
    )
    exact = (
        du.select(F.col("day").alias("dday"), "user_id")
        .join(
            F.broadcast(days),
            (F.col("dday") >= F.date_sub(F.col("day"), _KMVW_DAYS))
            & (F.col("dday") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    est = F.when(
        F.col("kk") < _KMVW_K, F.col("kk").cast("double")
    ).otherwise((_KMVW_K - 1) / F.col("uk"))
    return (
        exact.join(kmv, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("exact_users").cast("bigint").alias("exact_users"),
            F.round(est, 2).alias("kmv_est"),
            F.round(
                F.abs(est - F.col("exact_users")) / F.col("exact_users"), 6
            ).alias("rel_err"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# KMV set comparison — Jaccard of two populations from their sketches
# --------------------------------------------------------------------------
_KMVJ_K = 32


@query(
    "sketch_kmv_jaccard",
    oracle=f"""
    WITH a AS (SELECT DISTINCT o_custkey AS user_id FROM orders
               WHERE year(o_orderdate) = 1995),
    b AS (SELECT DISTINCT o_custkey AS user_id FROM orders
          WHERE year(o_orderdate) = 2001),
    ha AS (
      SELECT user_id,
             ((('0x' || substr(md5('kmvj:' || user_id), 1, 8))::UBIGINT
               + 0.5) / 4294967296.0) AS u
      FROM a
    ),
    hb AS (
      SELECT user_id,
             ((('0x' || substr(md5('kmvj:' || user_id), 1, 8))::UBIGINT
               + 0.5) / 4294967296.0) AS u
      FROM b
    ),
    ska AS (SELECT u FROM ha ORDER BY u LIMIT {_KMVJ_K}),
    skb AS (SELECT u FROM hb ORDER BY u LIMIT {_KMVJ_K}),
    merged AS (
      SELECT u FROM (SELECT u FROM ska UNION SELECT u FROM skb)
      ORDER BY u LIMIT {_KMVJ_K}
    ),
    m AS (
      SELECT count(*) AS kk,
             sum(CASE WHEN merged.u IN (SELECT u FROM ska)
                       AND merged.u IN (SELECT u FROM skb)
                      THEN 1 ELSE 0 END) AS matches
      FROM merged
    ),
    exact AS (
      SELECT (SELECT count(*) FROM a) AS na,
             (SELECT count(*) FROM b) AS nb,
             (SELECT count(*) FROM a JOIN b USING (user_id)) AS ni
    )
    SELECT CAST(exact.na AS BIGINT) AS n_1995,
           CAST(exact.nb AS BIGINT) AS n_2001,
           round(CAST(exact.ni AS DOUBLE)
                 / (exact.na + exact.nb - exact.ni), 6) AS exact_jac,
           round(CAST(m.matches AS DOUBLE) / m.kk, 6) AS kmv_jac,
           round(abs(CAST(m.matches AS DOUBLE) / m.kk
                     - CAST(exact.ni AS DOUBLE)
                       / (exact.na + exact.nb - exact.ni)), 6) AS abs_err
    FROM exact CROSS JOIN m
    """,
)
def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard similarity of two customer populations (ordered in
    1995 vs in 2001 — six-year retention overlap, exact Jaccard ≈
    0.48 on this data) estimated from their KMV sketches alone (Beyer et al.
    SIGMOD'07 §5): merge the two k=32-min lists, re-take the k
    smallest, and count how many of those minima appear in BOTH input
    sketches — matches/k estimates |A∩B|/|A∪B| without ever joining
    the raw populations. Below the combined capacity the sketches ARE
    the sets and matches/|merged| is exact — one formula serves both
    regimes. The exact Jaccard (one equi-join of the distinct-user
    sets) rides alongside as the error readout. This is the sketch
    trilogy's SET-COMPARISON leg: two fixed-size states that never
    saw each other's data answer an intersection question — the shape
    profile/audience-overlap systems use across datacenters. Ref:
    reference audience-overlap tests (cf. events_audience_overlap —
    the exact cousin)."""
    orders = table(spark, sf_dir, "orders")

    def pop(yr: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == yr)
            .select(F.col("o_custkey").alias("user_id"))
            .distinct()
        )

    def uniform(df: DataFrame) -> DataFrame:
        u = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("kmvj:"), F.col("user_id"))), 1, 8
                ),
                16,
                10,
            ).cast("double")
            + 0.5
        ) / F.lit(float(_TWO32_AMS))
        return df.select(u.alias("u"))

    a, b = pop(1995), pop(2001)
    ska = uniform(a).orderBy("u").limit(_KMVJ_K)
    skb = uniform(b).orderBy("u").limit(_KMVJ_K)
    merged = ska.union(skb).distinct().orderBy("u").limit(_KMVJ_K)
    m = (
        merged.join(
            F.broadcast(ska.select(F.col("u").alias("ua"))),
            F.col("u") == F.col("ua"),
            "left",
        )
        .join(
            F.broadcast(skb.select(F.col("u").alias("ub"))),
            F.col("u") == F.col("ub"),
            "left",
        )
        .agg(
            F.count("*").alias("kk"),
            F.sum(
                (
                    F.col("ua").isNotNull() & F.col("ub").isNotNull()
                ).cast("long")
            ).alias("matches"),
        )
    )
    exact = (
        a.agg(F.count("*").alias("na"))
        .crossJoin(b.agg(F.count("*").alias("nb")))
        .crossJoin(
            a.join(b, "user_id").agg(F.count("*").alias("ni"))
        )
    )
    ej = F.col("ni").cast("double") / (
        F.col("na") + F.col("nb") - F.col("ni")
    )
    kj = F.col("matches").cast("double") / F.col("kk")
    return exact.crossJoin(F.broadcast(m)).select(
        F.col("na").cast("bigint").alias("n_1995"),
        F.col("nb").cast("bigint").alias("n_2001"),
        F.round(ej, 6).alias("exact_jac"),
        F.round(kj, 6).alias("kmv_jac"),
        F.round(F.abs(kj - ej), 6).alias("abs_err"),
    )
