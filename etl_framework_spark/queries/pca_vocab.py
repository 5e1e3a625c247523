"""Contract keys: ``vec_pca_variance_explained``, ``llm_vocab_oov_curve``,
``ts_paa_sax``.

PCA variance accounting, tokenizer vocab sizing,
and symbolic time-series representation.

Scale notes:

- ``vec_pca_variance_explained``: shares vec_pca_power's
  integer-exact covariance (the only corpus-sized stage); the trace
  and Rayleigh quotient reduce over the 4096-row model table with
  dim-ordered folds.
- ``llm_vocab_oov_curve``: OOV mass vs vocabulary size — rank the
  vocabulary once under a total order, then every candidate vocab
  size reads one cumulative value (the same
  histogram-plus-running-sum trick as the dedup threshold sweep;
  never a vocab × grid multiplication). THE tokenizer-budget curve.
- ``ts_paa_sax``: Piecewise Aggregate Approximation + SAX
  symbolization of each type's daily series — per-key state is one
  bounded series; segment means are exact integer ratios and the
  z-normalization folds in day order, so symbols are engine-exact.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import guarded
from etl_framework_spark.queries.pca_q import _PCA_CTE
from etl_framework_spark.operators.rounding import q6
from etl_framework_spark.registry import query

# Candidate vocabulary sizes for the OOV curve (powers of two).
_VOCAB_GRID = [16, 32, 64, 128, 256, 512, 1024]

_PAA_SEGMENTS = 6
# Standard SAX breakpoints for a 4-symbol alphabet (N(0,1) quantiles
# at 25/50/75%): symbols a < b < c < d.
_SAX_BREAKS = (-0.6744897501960817, 0.0, 0.6744897501960817)


# --------------------------------------------------------------------------
# PCA — variance explained by the leading component
# --------------------------------------------------------------------------
@query(
    "vec_pca_variance_explained",
    oracle=_PCA_CTE
    + """
    , tr AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(cv ORDER BY i)), (a, x) -> a + x) AS trace
             FROM cov WHERE i = j)
    SELECT floor(ray.lam * 1000000 + 0.5) / 1000000 AS eigenvalue,
           floor(tr.trace * 1000000 + 0.5) / 1000000 AS total_variance,
           floor(ray.lam / tr.trace * 1000000 + 0.5) / 1000000
             AS explained_ratio,
           CAST(n.n AS BIGINT) AS n_vecs
    FROM ray CROSS JOIN tr CROSS JOIN n
    """,
)
def vec_pca_variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance accounting for the leading principal direction: the
    power-iteration Rayleigh quotient against the covariance trace
    (total variance) — the one-number answer to 'is this embedding
    space dominated by a single direction?' (a high ratio usually
    flags an un-normalized artifact dimension). Shares
    vec_pca_power's RAW core (integer-exact covariance, unquantized
    Rayleigh value — quantization only at this key's emit boundary,
    matching the oracle exactly); the trace folds the 64 diagonal
    entries in dim order."""
    from etl_framework_spark.queries.pca_q import _pca_core

    v2, ray, nrow, cov = _pca_core(spark, sf_dir)
    trace = (
        cov.filter(F.col("i") == F.col("j"))
        .agg(F.array_sort(F.collect_list(F.struct("i", "cv"))).alias("sv"))
        .select(
            F.aggregate(F.col("sv.cv"), F.lit(0.0), lambda a, x: a + x).alias(
                "trace"
            )
        )
    )
    return (
        ray.crossJoin(F.broadcast(trace))
        .crossJoin(F.broadcast(nrow))
        .select(
            q6(F.col("lam")).alias("eigenvalue"),
            q6(F.col("trace")).alias("total_variance"),
            q6(F.col("lam") / F.col("trace")).alias("explained_ratio"),
            F.col("n").cast("bigint").alias("n_vecs"),
        )
    )


# --------------------------------------------------------------------------
# Tokenizer sizing — OOV mass vs vocabulary size
# --------------------------------------------------------------------------
@query(
    "llm_vocab_oov_curve",
    oracle=f"""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
                 FROM documents),
    freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS f
             FROM tok GROUP BY tok),
    ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS rnk,
             sum(f) OVER (ORDER BY f DESC, tok
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cumf
      FROM freq
    ),
    tot AS (SELECT CAST(sum(f) AS DOUBLE) AS n,
                   CAST(count(*) AS BIGINT) AS vtypes FROM freq),
    grid AS (SELECT unnest([{", ".join(str(v) for v in _VOCAB_GRID)}])
               AS vocab_size)
    SELECT g.vocab_size,
           CAST(coalesce(max(r.cumf), 0) AS BIGINT) AS covered_tokens,
           round(1.0 - coalesce(max(r.cumf), 0) / tot.n, 6) AS oov_rate,
           CAST(tot.vtypes AS BIGINT) AS total_types
    FROM grid g
    LEFT JOIN ranked r ON r.rnk <= g.vocab_size
    CROSS JOIN tot
    GROUP BY g.vocab_size, tot.n, tot.vtypes
    """,
)
def llm_vocab_oov_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget curve: corpus OOV mass if the vocabulary were
    capped at each candidate size (top tokens by frequency, token
    tiebreak) — THE plot that sizes a word-level vocab before
    training anything. The vocabulary is ranked once with a running
    coverage sum; each candidate size then reads one cumulative
    value (the same rank-once-read-many shape as the dedup threshold
    sweep — never a vocab × grid multiplication). All exact integer
    token counts."""
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    wrank = W.orderBy(F.col("f").desc(), "tok")
    ranked = freq.select(
        F.row_number().over(wrank).alias("rnk"),
        F.sum("f")
        .over(wrank.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cumf"),
    )
    tot = freq.agg(
        F.sum("f").cast("double").alias("n"),
        F.count("*").cast("bigint").alias("vtypes"),
    )
    grid = guarded.local_frame(
        spark,
        [(v,) for v in _VOCAB_GRID], "vocab_size int"
    )
    at = grid.join(
        ranked, ranked.rnk <= grid.vocab_size, "left"
    ).groupBy("vocab_size").agg(F.max("cumf").alias("covered"))
    return (
        at.crossJoin(F.broadcast(tot))
        .select(
            "vocab_size",
            F.coalesce("covered", F.lit(0)).cast("bigint").alias(
                "covered_tokens"
            ),
            F.round(
                1.0 - F.coalesce("covered", F.lit(0)) / F.col("n"), 6
            ).alias("oov_rate"),
            F.col("vtypes").alias("total_types"),
        )
    )


# --------------------------------------------------------------------------
# TS — Piecewise Aggregate Approximation + SAX symbols
# --------------------------------------------------------------------------
@query(
    "ts_paa_sax",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM events GROUP BY event_type, day
    ),
    idx AS (
      SELECT event_type, day, cnt,
             row_number() OVER (PARTITION BY event_type ORDER BY day) - 1
               AS i,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ),
    segd AS (
      SELECT event_type,
             CAST(floor(i * {_PAA_SEGMENTS} / n) AS BIGINT) AS seg,
             cnt, day
      FROM idx
    ),
    paa AS (
      SELECT event_type, seg,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(cnt ORDER BY day)), (a, x) -> a + x)
               / count(*) AS m,
             CAST(count(*) AS BIGINT) AS seg_days
      FROM segd GROUP BY event_type, seg
    ),
    stats AS (
      SELECT event_type,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(m ORDER BY seg)), (a, x) -> a + x)
               / {_PAA_SEGMENTS} AS mu,
             sqrt(greatest(
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list(m * m ORDER BY seg)), (a, x) -> a + x)
                 / {_PAA_SEGMENTS}
               - pow(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(m ORDER BY seg)), (a, x) -> a + x)
                   / {_PAA_SEGMENTS}, 2), 1e-12)) AS sd
      FROM paa GROUP BY event_type
    )
    SELECT paa.event_type, paa.seg, paa.seg_days,
           floor(paa.m * 1000000 + 0.5) / 1000000 AS paa_mean,
           CASE
             WHEN (paa.m - mu) / sd < {_SAX_BREAKS[0]} THEN 'a'
             WHEN (paa.m - mu) / sd < {_SAX_BREAKS[1]} THEN 'b'
             WHEN (paa.m - mu) / sd < {_SAX_BREAKS[2]} THEN 'c'
             ELSE 'd' END AS sax_symbol
    FROM paa JOIN stats USING (event_type)
    """,
)
def ts_paa_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symbolic time-series representation: each event type's daily
    series is compressed by Piecewise Aggregate Approximation
    ({_PAA_SEGMENTS} equal segments, mean per segment) and
    z-normalized against the segment-mean distribution, then mapped
    to a 4-letter SAX word with the standard N(0,1) breakpoints —
    the representation behind symbolic indexing/motif discovery of
    billions of series. Segment means fold day-ordered; the
    normalization folds segment-ordered; symbols are therefore
    engine-exact. Output is |types|×{_PAA_SEGMENTS} rows at any
    scale."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("double").alias("cnt"))
    widx = W.partitionBy("event_type").orderBy("day")
    wall = W.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "day",
        "cnt",
        (F.row_number().over(widx) - 1).alias("i"),
        F.count("*").over(wall).alias("n"),
    )
    segd = idx.select(
        "event_type",
        F.floor(F.col("i") * _PAA_SEGMENTS / F.col("n")).alias("seg"),
        "cnt",
        "day",
    )
    paa = segd.groupBy("event_type", "seg").agg(
        F.array_sort(F.collect_list(F.struct("day", "cnt"))).alias("sv"),
        F.count("*").cast("bigint").alias("seg_days"),
    ).select(
        "event_type",
        "seg",
        "seg_days",
        (
            F.aggregate(F.col("sv.cnt"), F.lit(0.0), lambda a, x: a + x)
            / F.col("seg_days")
        ).alias("m"),
    )
    stats = paa.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("seg", "m"))).alias("sv")
    )
    ms = F.col("sv.m")
    mu = F.aggregate(ms, F.lit(0.0), lambda a, x: a + x) / _PAA_SEGMENTS
    m2 = (
        F.aggregate(
            F.transform(ms, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
        / _PAA_SEGMENTS
    )
    stats = stats.select(
        "event_type",
        mu.alias("mu"),
        F.sqrt(F.greatest(m2 - mu * mu, F.lit(1e-12))).alias("sd"),
    )
    z = (F.col("m") - F.col("mu")) / F.col("sd")
    return paa.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "seg",
        "seg_days",
        q6(F.col("m")).alias("paa_mean"),
        F.when(z < _SAX_BREAKS[0], "a")
        .when(z < _SAX_BREAKS[1], "b")
        .when(z < _SAX_BREAKS[2], "c")
        .otherwise("d")
        .alias("sax_symbol"),
    )
