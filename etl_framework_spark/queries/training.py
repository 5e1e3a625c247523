"""Training-data pipeline operators (north star, beyond SURVEY §2.11):
the dataset-assembly steps an LLM training pipeline runs after
dedup/quality filtering — deterministic splits, sequence packing,
mixture weighting, and eval-contamination checks. All four are exact
DuckDB-oracle-checked and shuffle-minimal:

- train_split: multiplicative-hash bucketing — pure arithmetic on the
  key, no RNG, so the split is reproducible across engines, runs, and
  partitionings (seeded `sample()` is engine-specific; a hash split is
  the only portable way to split 100 TB consistently).
- pack_sequences: greedy contiguous packing of documents into
  fixed-token-budget bins = one window cumsum per source partition +
  one partial-agg shuffle. No per-bin state, no driver loop.
- mix_weights: temperature-scaled (alpha=0.5) source mixture weights —
  one tiny aggregate, scalar total broadcast.
- llm_contamination: word-5-gram overlap between an eval slice and the
  training corpus — shingle explode + equi-join on the shingle string,
  so candidate pairs only materialize where actual n-gram collisions
  exist (never an all-pairs comparison).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

# Knuth's multiplicative hash constant; bucket space is 2^32 and the
# train share is floor(0.9 * 2^32). doc_id * K stays far below int64
# overflow at any realistic doc count (K * 1e12 < 2^63).
_K = 2654435761
_MOD = 4294967296
_TRAIN_LT = 3865470566  # floor(0.9 * 2^32)


@query(
    "train_split",
    oracle=f"""
    SELECT lang,
           CASE WHEN ((doc_id % 1000000007) * {_K}) % {_MOD} < {_TRAIN_LT}
                THEN 'train' ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang, split
    """,
)
def train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/test split via multiplicative hashing
    of doc_id — reproducible across engines and partitionings, unlike
    seeded sampling. Returns the per-(lang, split) profile."""
    d = table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(_K)) % F.lit(_MOD)
    return (
        d.select(
            "lang",
            F.when(bucket < _TRAIN_LT, "train").otherwise("test").alias("split"),
            "n_chars",
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@query(
    "pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    cum AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS c
      FROM toks
    )
    SELECT source,
           CAST(floor((c - n_tok) / 256.0) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS bin_tokens
    FROM cum
    GROUP BY source, bin
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing: documents stream in doc_id
    order per source; each lands in bin floor(prefix_tokens / 256).
    One window shuffle per source partition — no per-bin state, no
    driver loop — so packing 100 TB is one sort within partitions."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    cum = toks.withColumn("c", F.sum("n_tok").over(w))
    return (
        cum.select(
            "source",
            F.floor((F.col("c") - F.col("n_tok")) / F.lit(256.0))
            .cast("bigint")
            .alias("bin"),
            "n_tok",
        )
        .groupBy("source", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("bin_tokens"),
        )
    )


@query(
    "mix_weights",
    oracle="""
    WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang)
    SELECT lang,
           CAST(n AS BIGINT) AS n_docs,
           round(pow(n, 0.5) / (SELECT sum(pow(n, 0.5)) FROM cnt), 6) AS weight
    FROM cnt
    """,
)
def mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights per language (alpha = 0.5,
    the standard rebalancing exponent): weight_i = n_i^0.5 / sum_j
    n_j^0.5. The denominator is a one-row aggregate broadcast to the
    (tiny) per-lang table."""
    d = table(spark, sf_dir, "documents")
    cnt = d.groupBy("lang").agg(F.count("*").alias("n"))
    tot = cnt.agg(F.sum(F.pow(F.col("n"), 0.5)).alias("t"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.col("n").alias("n_docs"),
        F.round(F.pow(F.col("n"), 0.5) / F.col("t"), 6).alias("weight"),
    )


@query(
    "llm_contamination",
    oracle="""
    WITH docs AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
    ),
    pos AS (
      SELECT doc_id, source, toks,
             unnest(generate_series(1, len(toks) - 4)) AS i
      FROM docs WHERE len(toks) >= 5
    ),
    sh AS (
      SELECT DISTINCT doc_id, source,
             array_to_string(toks[i:i+4], ' ') AS shingle
      FROM pos
    ),
    ev AS (SELECT doc_id, shingle FROM sh WHERE source = 'src0'),
    tr AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0')
    SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc,
           CAST(count(*) AS BIGINT) AS shared
    FROM tr JOIN ev USING (shingle)
    GROUP BY train_doc, eval_doc
    HAVING count(*) >= 3
    """,
)
def llm_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: treat source src0 as the eval
    set and find training documents sharing >= 3 distinct word
    5-grams with any eval document. Candidates come from an equi-join
    on the shingle string — pairs materialize only on real n-gram
    collisions, never via all-pairs comparison; the per-doc DISTINCT
    keeps hot shingles from multiplying within a document."""
    d = table(spark, sf_dir, "documents")
    docs = d.select("doc_id", "source", F.split(F.col("text"), " ").alias("toks"))
    sh = (
        docs.filter(F.size("toks") >= 5)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 4),"
                    " i -> array_join(slice(toks, i, 5), ' '))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    ev = sh.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("eval_doc"), "shingle"
    )
    tr = sh.filter(F.col("source") != "src0").select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    return (
        tr.join(ev, "shingle")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 3)
        .select("train_doc", "eval_doc", "shared")
    )


@query(
    "pack_payloads",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    cum AS (
      SELECT doc_id, source, text, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS c
      FROM toks
    )
    SELECT source,
           CAST(floor((c - n_tok) / 256.0) AS BIGINT) AS bin,
           string_agg(text, ' ' ORDER BY doc_id) AS packed_text,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM cum
    GROUP BY source, bin
    """,
)
def pack_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized sequence packing: the actual concatenated training
    sequences (doc_id order within each bin), not just bin stats —
    what the tokenizer shards consume. Same single window cumsum as
    pack_sequences plus one ordered string aggregation."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        "text",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    cum = toks.withColumn("c", F.sum("n_tok").over(w))
    return (
        cum.select(
            "source",
            F.floor((F.col("c") - F.col("n_tok")) / F.lit(256.0))
            .cast("bigint")
            .alias("bin"),
            "doc_id",
            "text",
        )
        .groupBy("source", "bin")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s.getField("text"),
                ),
                " ",
            ).alias("packed_text"),
            F.count("*").alias("n_docs"),
        )
    )


# Literal per-language sampling rates (a mixture policy fixed by
# config, not derived floats — derived thresholds could straddle a
# rounding boundary differently per engine).
_MIX_RATES = {"en": 0.5, "es": 0.8, "de": 0.9, "fr": 0.7, "zh": 1.0}


@query(
    "mix_sample",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars
    FROM documents
    WHERE ((doc_id % 1000000007) * {_K}) % {_MOD}
          < CAST((CASE lang
                    WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.8 WHEN 'de' THEN 0.9
                    WHEN 'fr' THEN 0.7 ELSE 1.0 END) * {_MOD} AS BIGINT)
    GROUP BY lang
    """,
)
def mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted mixture sampling: each language keeps a
    config-declared fraction of documents via the same multiplicative
    hash as train_split — reproducible downsampling with no RNG, the
    way a 100 TB mixture is actually drawn (re-runs and retries keep
    the same rows)."""
    d = table(spark, sf_dir, "documents")
    expr = None
    for lang, r in _MIX_RATES.items():
        expr = (
            F.when(F.col("lang") == lang, F.lit(r))
            if expr is None
            else expr.when(F.col("lang") == lang, F.lit(r))
        )
    rate = expr.otherwise(F.lit(1.0))
    bucket = (F.col("doc_id") * F.lit(_K)) % F.lit(_MOD)
    thresh = (rate * _MOD).cast("bigint")
    return (
        d.filter(bucket < thresh)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
        )
    )


_STRAT_N = 40  # per-language subset size


@query(
    "train_stratified",
    oracle=f"""
    SELECT doc_id, lang,
           CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY ((doc_id % 1000000007) * {_K}) % {_MOD}, doc_id) AS INT) AS pick_rank
    FROM documents
    QUALIFY pick_rank <= {_STRAT_N}
    """,
)
def train_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly {N} docs per
    language, chosen by multiplicative-hash order (not seeded RNG), so
    the balanced subset is identical across engines, runs, and
    repartitionings. Per-group top-N rides WindowGroupLimit — partial
    limits apply map-side before the shuffle, so at 100 TB each
    partition forwards at most N rows per language."""
    d = table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(_K)) % F.lit(_MOD)
    w = Window.partitionBy("lang").orderBy(bucket, "doc_id")
    return (
        d.select(
            "doc_id",
            "lang",
            F.row_number().over(w).cast("int").alias("pick_rank"),
        )
        .filter(F.col("pick_rank") <= _STRAT_N)
    )


@query(
    "train_curriculum",
    oracle="""
    WITH staged AS (
        SELECT lang, n_chars,
               CAST(ntile(4) OVER (
                   PARTITION BY lang
                   ORDER BY n_chars, doc_id) AS INT) AS stage
        FROM documents)
    SELECT lang, stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(n_chars), 6) AS avg_chars
    FROM staged
    GROUP BY lang, stage
    """,
)
def train_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging: quartile buckets per language ordered by a
    difficulty proxy (document length, doc_id tiebreak for a total
    order) — the 'short docs first' schedule. ntile is a per-lang
    window (never a global sort); the rollup output is |langs|×4
    rows."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    staged = d.select(
        "lang", "n_chars", F.ntile(4).over(w).cast("int").alias("stage")
    )
    return staged.groupBy("lang", "stage").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


_UPSAMPLE = {"en": 1, "es": 2, "de": 2, "fr": 3, "zh": 4}
_UP_CASE = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _UPSAMPLE.items()
)


@query(
    "mix_upsample",
    oracle=f"""
    WITH rep AS (SELECT doc_id, lang,
                        CASE lang {_UP_CASE} ELSE 1 END AS n_rep
                 FROM documents)
    SELECT doc_id, lang, CAST(unnest(generate_series(1, n_rep)) AS INT) AS copy_id
    FROM rep
    """,
)
def mix_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch up-sampling: low-resource languages repeat n_rep times
    (the repeat-factor mixture used when a source is smaller than its
    target share). explode(sequence(1, n)) multiplies rows WITHOUT a
    shuffle — each task expands its own partition; downstream shuffles
    see the already-weighted stream. Deterministic (no RNG), and
    copy_id lets later stages shuffle-salt repeated docs apart."""
    docs = table(spark, sf_dir, "documents")
    n_rep = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(v))
            for k, v in _UPSAMPLE.items()
        ],
        F.lit(1),
    )
    return docs.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(1), n_rep)).alias("copy_id"),
    ).select("doc_id", "lang", F.col("copy_id").cast("int").alias("copy_id"))


_CHUNK = 32  # tokens per chunk
_STRIDE = 24  # overlap = _CHUNK - _STRIDE tokens


@query(
    "llm_chunk_windows",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    starts AS (
      SELECT doc_id, l,
             unnest(generate_series(1, greatest(len(l) - 1, 1), {_STRIDE}))
               AS start
      FROM t)
    SELECT doc_id,
           CAST((start - 1) // {_STRIDE} AS INT) AS chunk_id,
           array_to_string(list_slice(l, start,
               least(start + {_CHUNK} - 1, len(l))), ' ') AS chunk_text,
           CAST(least(start + {_CHUNK} - 1, len(l)) - start + 1 AS INT)
             AS n_tokens
    FROM starts
    WHERE start <= len(l)
    """,
)
def llm_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: overlapping {32}-token windows with a
    {24}-token stride (the standard long-document preprocessing before
    tokenizer sharding). One sequence-explode per doc then pure array
    slicing — no shuffle at all; chunk counts scale with token volume,
    not document count, so a 100 TB corpus chunks in one map stage."""
    from etl_framework_spark.operators.textops import tokens

    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("l"))
    n = F.size("l")
    starts = t.select(
        "doc_id",
        "l",
        F.explode(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1)), F.lit(_STRIDE))
        ).alias("start"),
    ).filter(F.col("start") <= F.size("l"))
    end = F.least(F.col("start") + F.lit(_CHUNK - 1), F.size("l"))
    length = end - F.col("start") + 1
    return starts.select(
        "doc_id",
        ((F.col("start") - 1) / F.lit(_STRIDE)).cast("int").alias("chunk_id"),
        F.array_join(F.slice("l", F.col("start"), length), " ").alias("chunk_text"),
        length.cast("int").alias("n_tokens"),
    )
