"""Contract keys: ``llm_dedup_substr``, ``mm_dedup_exact``, ``ts_holt``,
``pipeline_train_prep``.

Substring-level dedup, multimodal asset dedup,
Holt trend smoothing, and the end-to-end training-prep composite.

Scale notes (the 100 TB rationale for each formulation):
- ``llm_dedup_substr``: the Lee et al. (2021, "Deduplicating Training
  Data Makes Language Models Better") signal at k-gram granularity —
  the fraction of a document's 20-token windows that occur anywhere
  else in the corpus. The global window-frequency table is the only
  shuffle, and it moves a fixed-width 32-hex md5 per window instead of
  the ~140-char window text (4×+ narrower shuffle at corpus scale);
  counts then broadcast-join back per window occurrence. Never an
  all-pairs comparison.
- ``mm_dedup_exact``: byte-identical asset dedup over opaque binary
  payloads — ONE shuffle on the sha256 digest, cluster sizes +
  min-doc_id survivor. At 100 TB of media this is the first pass
  before any perceptual hashing, and it only ever moves 32-byte
  digests + ids, never payload bytes.
- ``ts_holt``: Holt double exponential smoothing (level + trend) per
  event type — per-key state folded in ONE ordered array aggregate
  (state bounded by one key's history, same shape the streaming
  engine carries in applyInPandasWithState). The fold is a strict
  left-to-right IEEE sequence, so DuckDB's list_reduce over a
  [level, trend] list accumulator reproduces it bit-for-bit;
  quantization only at the emit boundary.
- ``pipeline_train_prep``: the full training-data prep job — quality
  gate, exact dedup, deterministic hash split, per-(split, lang)
  token accounting — declared as a config spec and run by the
  pipeline engine. Two shuffles total (dedup hash, final rollup);
  the split is pure arithmetic on doc_id (no RNG, reproducible
  across engines/runs/partitionings).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import multimodal
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6

# Window width (tokens) for substring-level dedup.
_SUBSTR_K = 20

# Knuth multiplicative-hash split constants (same family as train_split).
_K = 2654435761
_MOD = 4294967296
_TRAIN_LT = 3865470566  # floor(0.9 * 2^32)


# --------------------------------------------------------------------------
# L2e — substring-level exact dedup (k-gram duplication fraction)
# --------------------------------------------------------------------------
@query(
    "llm_dedup_substr",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    pos AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, len(toks) - {_SUBSTR_K - 1})) AS i
      FROM docs WHERE len(toks) >= {_SUBSTR_K}
    ),
    g AS (
      SELECT doc_id, md5(array_to_string(toks[i:i+{_SUBSTR_K - 1}], ' ')) AS g
      FROM pos
    ),
    c AS (SELECT g, count(*) AS c FROM g GROUP BY g),
    d AS (
      SELECT doc_id,
             count(*) AS n_windows,
             sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS dup_windows
      FROM g JOIN c USING (g) GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(coalesce(n_windows, 0) AS BIGINT) AS n_windows,
           CAST(coalesce(dup_windows, 0) AS BIGINT) AS dup_windows,
           round(coalesce(dup_windows * 1.0 / n_windows, 0.0), 6) AS dup_frac
    FROM documents LEFT JOIN d USING (doc_id)
    """,
)
def llm_dedup_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication (Lee et al. 2021 at 20-token-window
    granularity): per document, the fraction of its 20-token windows
    whose window text occurs more than once in the corpus (in another
    document or repeated within this one). Windows are keyed by md5 so
    the global frequency shuffle moves fixed-width hashes, not window
    text; short documents (< 20 tokens) report 0 windows via the final
    left join rather than dropping out.

    r11 optimization: the shuffle_hash hint forces a shuffled join
    for the probe-vs-counts step, so the O(distinct windows) counts
    table is no longer BROADCAST — it is ~the corpus's token count in
    rows (~120 MB at sf0.1, billions of rows at 100 TB; a broadcast
    there dies outright — guide §3.1's size caveat), while the
    shuffled-hash build stays per-partition-sized and AQE-skew-
    splittable. Measured 2.20 s -> 1.60 s at sf0.1."""
    d = table(spark, sf_dir, "documents")
    docs = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    grams = docs.filter(F.size("toks") >= _SUBSTR_K).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {_SUBSTR_K - 1}),"
                f" i -> md5(array_join(slice(toks, i, {_SUBSTR_K}), ' ')))"
            )
        ).alias("g"),
    )
    # (a localCheckpoint of `grams` to make the derivation literally
    # run once was tried and REJECTED on measurement: 1.60 s with the
    # double derivation vs 1.90 s checkpointed at sf0.1 — writing the
    # ~n_windows × 40 B frame costs more than the second JVM-side
    # split+md5 pass.)
    counts = grams.groupBy("g").agg(F.count("*").alias("c"))
    per_doc = (
        grams.join(counts.hint("shuffle_hash"), "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("nw"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("dw"),
        )
    )
    return d.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("nw"), F.lit(0)).cast("bigint").alias("n_windows"),
        F.coalesce(F.col("dw"), F.lit(0)).cast("bigint").alias("dup_windows"),
        F.round(
            F.coalesce(F.col("dw") / F.col("nw"), F.lit(0.0)), 6
        ).alias("dup_frac"),
    )


# --------------------------------------------------------------------------
# L6b — multimodal byte-identical asset dedup
# --------------------------------------------------------------------------
@query(
    "mm_dedup_exact",
    oracle="""
    WITH b AS (
      SELECT doc_id, sha256(text) AS digest,
             octet_length(encode(text)) AS n_bytes
      FROM documents
    ),
    clusters AS (
      SELECT digest,
             count(*) AS n_copies,
             min(n_bytes) AS n_bytes,
             min(doc_id) AS keep_doc
      FROM b GROUP BY digest
    )
    SELECT CAST(sum(n_copies) AS BIGINT) AS n_assets,
           CAST(count(*) AS BIGINT) AS n_unique,
           CAST(sum(n_copies) - count(*) AS BIGINT) AS n_redundant,
           CAST(sum((n_copies - 1) * n_bytes) AS BIGINT) AS bytes_saved,
           CAST(max(n_copies) AS BIGINT) AS max_copies
    FROM clusters
    """,
)
def mm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical multimodal asset dedup (L6): sha256 over the
    opaque binary payload, one shuffle on the digest, min-doc_id
    survivor per cluster, rolled up into the storage-savings report
    (asset/unique/redundant counts, bytes reclaimed, largest cluster).
    Only digests and ids move in the shuffle — payload bytes stay
    where they were scanned (at 100 TB of media the digest table is
    ~1e-6 of the corpus)."""
    docs = table(spark, sf_dir, "documents")
    b = multimodal.attach_binary(docs)
    clusters = (
        b.select(
            "doc_id",
            F.sha2(F.col("payload"), 256).alias("digest"),
            F.col("meta.n_bytes").alias("n_bytes"),
        )
        .groupBy("digest")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("n_bytes").alias("n_bytes"),
            F.min("doc_id").alias("keep_doc"),
        )
    )
    return clusters.agg(
        F.sum("n_copies").cast("bigint").alias("n_assets"),
        F.count("*").cast("bigint").alias("n_unique"),
        (F.sum("n_copies") - F.count("*")).cast("bigint").alias("n_redundant"),
        F.sum((F.col("n_copies") - 1) * F.col("n_bytes"))
        .cast("bigint")
        .alias("bytes_saved"),
        F.max("n_copies").cast("bigint").alias("max_copies"),
    )


# --------------------------------------------------------------------------
# TS — Holt double exponential smoothing (level + trend) per event type
# --------------------------------------------------------------------------
@query(
    "ts_holt",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM events GROUP BY event_type, day
    ),
    arrs AS (
      SELECT event_type, list(cnt ORDER BY day) AS xs
      FROM daily GROUP BY event_type
    ),
    st AS (
      SELECT event_type, len(xs) AS n_days,
             list_reduce(
               list_transform(xs, x -> [x, CAST(0.0 AS DOUBLE)]),
               (acc, el) -> [el[1] * 0.5 + (acc[1] + acc[2]) * 0.5,
                             (el[1] * 0.5 + (acc[1] + acc[2]) * 0.5
                               - acc[1]) * 0.3 + acc[2] * 0.7]) AS s
      FROM arrs
    )
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           floor(s[1] * 1000000 + 0.5) / 1000000 AS level,
           floor(s[2] * 1000000 + 0.5) / 1000000 AS trend,
           floor((s[1] + s[2]) * 1000000 + 0.5) / 1000000 AS forecast_1
    FROM st
    """,
)
def ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing over daily event counts
    (alpha=0.5, beta=0.3, init level=x0 / trend=0): the trend-aware
    upgrade of `win_ewma` / `events_ewma_state`, emitting final level,
    trend, and the one-step-ahead forecast per event type. The
    recurrence is a strict left fold over the ordered daily series
    with a (level, trend) struct accumulator — identical IEEE op
    order on both engines (DuckDB folds a 2-element list), so values
    match bit-for-bit before the emit-boundary quantization."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("double").alias("cnt"))
    arrs = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "cnt"))).alias("sv")
    )
    xs = F.col("sv.cnt")
    half, beta, one_m_beta = F.lit(0.5), F.lit(0.3), F.lit(0.7)
    state = F.aggregate(
        F.slice(xs, 2, F.size(xs) - 1),
        F.struct(
            F.element_at(xs, 1).alias("l"), F.lit(0.0).cast("double").alias("b")
        ),
        lambda acc, x: F.struct(
            (x * half + (acc.l + acc.b) * half).alias("l"),
            ((x * half + (acc.l + acc.b) * half - acc.l) * beta
             + acc.b * one_m_beta).alias("b"),
        ),
    )
    return arrs.select(
        "event_type",
        F.size(xs).cast("bigint").alias("n_days"),
        q6(state.l).alias("level"),
        q6(state.b).alias("trend"),
        q6(state.l + state.b).alias("forecast_1"),
    )


# --------------------------------------------------------------------------
# E1 composite — the full training-data prep job through the spec engine
# --------------------------------------------------------------------------
@query(
    "pipeline_train_prep",
    oracle=rf"""
    WITH gated AS (
      SELECT *, sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                AS norm_hash
      FROM documents WHERE n_chars BETWEEN 60 AND 2400
    ),
    deduped AS (
      SELECT * FROM gated
      QUALIFY row_number() OVER (PARTITION BY norm_hash ORDER BY doc_id) = 1
    ),
    split AS (
      SELECT *, CASE WHEN ((doc_id % 1000000007) * {_K}) % {_MOD} < {_TRAIN_LT}
                     THEN 'train' ELSE 'test' END AS split
      FROM deduped
    )
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tot_tokens
    FROM split GROUP BY split, lang
    """,
)
def pipeline_train_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data prep job end-to-end as a declarative spec:
    quality gate -> normalize -> exact dedup (keep-first) ->
    deterministic 90/10 hash split -> per-(split, lang) token budget
    report. Complements `pipeline_curation` by exercising the
    quality_gate op and the arithmetic hash split inside the spec
    engine; two shuffles total (dedup hash, final rollup)."""
    from etl_framework_spark.pipeline import run_pipeline

    spec = {
        "sources": {
            "documents": {"format": "parquet", "path": f"{sf_dir}/documents.parquet"}
        },
        "steps": [
            {
                "name": "gated",
                "input": "documents",
                "op": "quality_gate",
                "args": {"bounds": {"n_chars": [60, 2400]}},
            },
            {
                "name": "normed",
                "input": "gated",
                "op": "with_columns",
                "args": {
                    "columns": {
                        "norm_hash": r"sha2(regexp_replace(lower(trim(text)),"
                        r" '\\s+', ' '), 256)"
                    }
                },
            },
            {
                "name": "deduped",
                "input": "normed",
                "op": "dedup",
                "args": {"keys": ["norm_hash"], "order_by": ["doc_id"]},
            },
            {
                "name": "split",
                "input": "deduped",
                "op": "with_columns",
                "args": {
                    "columns": {
                        "split": f"CASE WHEN ((doc_id % 1000000007) * {_K}) % {_MOD}"
                        f" < {_TRAIN_LT} THEN 'train' ELSE 'test' END"
                    }
                },
            },
            {
                "name": "report",
                "input": "split",
                "op": "aggregate",
                "args": {
                    "group_by": ["split", "lang"],
                    "aggs": {
                        "n_docs": "count(*)",
                        "tot_tokens": "sum(size(split(text, ' ')))",
                    },
                },
            },
        ],
    }
    return run_pipeline(spark, spec)["report"]
