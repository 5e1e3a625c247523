"""LLM-data-pipeline operators over `documents` (SURVEY.md §2.11):
exact / MinHash-LSH / SimHash / n-gram-Jaccard dedup, text analysis,
language ID, quality filtering, fingerprinting, multimodal columns.

All dedup candidate generation is bucket-local (LSH bands, or
metadata blocks) — never an unbounded self-cross-join — so the same
plans hold at 100 TB: each stage is a hash shuffle on a bounded key.

Contract keys: ``llm_dedup_exact``, ``llm_dedup_minhash``,
``llm_dedup_minhash_fast``, ``llm_dedup_jaccard``, ``llm_simhash``,
``llm_dedup_simhash``, ``llm_text_stats``, ``llm_quality_filter``,
``llm_lang_id``, ``llm_fingerprint``, ``mm_binary_meta``, ``mm_decode``,
``mm_framesample``, ``mm_byte_histogram_neardup``, ``llm_dedup_cc``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import multimodal
from etl_framework_spark.operators.dedup import (
    attach_minhash,
    attach_simhash,
    duck_minhash,
    duck_simhash_bits,
)
from etl_framework_spark.operators.textops import (
    BPE_PATTERN,
    STOPWORDS,
    lang_scores,
    normalize_text,
    shingles,
    stopword_ratio,
    tokens,
)
from etl_framework_spark.registry import query

# Band math for this corpus (median pairwise Jaccard ≈ 0.66 — dense!):
# 2 bands of 8 rows → P(same bucket) = 1-(1-s^8)^2 ≈ 0.07 at s=0.66
# but 0.67 at s=0.9, so buckets group true near-dups without lumping
# the merely-similar majority. A wide-recall config (4 bands of 2)
# merges ~66% of all pairs here.
MINHASH_K = 16
MINHASH_ROWS_PER_BAND = 8
BLOCK_JACCARD_TAU = 0.2  # threshold for metadata-blocked exact Jaccard

_DUCK_TOKS = "string_split(text, ' ')"
_DUCK_TOKSET = "list_distinct(string_split(text, ' '))"


# --------------------------------------------------------------------------
# L1 — exact dedup (normalize → sha256 → group)
# --------------------------------------------------------------------------
@query(
    "llm_dedup_exact",
    oracle=r"""
    SELECT sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_hash,
           min(doc_id) AS keeper,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (L1): one hash shuffle on the 256-bit digest; the
    keeper is min(doc_id) so the answer is deterministic. Correctly
    returns all-singleton groups when no duplicates exist."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.sha2(normalize_text("text"), 256).alias("norm_hash"), "doc_id")
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies"))
    )


# --------------------------------------------------------------------------
# L2a — MinHash + LSH dedup (banded buckets → cluster assignment)
# --------------------------------------------------------------------------
def _duck_minhash_cte() -> str:
    r = MINHASH_ROWS_PER_BAND
    sig_cols = ", ".join(
        f"{expr} AS s{i}" for i, expr in enumerate(duck_minhash("ts", MINHASH_K))
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS bkey FROM sigs".format(
            b=b, key=" || '|' || ".join(f"s{b * r + i}" for i in range(r))
        )
        for b in range(MINHASH_K // r)
    )
    return f"""
    WITH toksets AS (SELECT doc_id, {_DUCK_TOKSET} AS ts FROM documents),
    sigs AS (SELECT doc_id, {sig_cols} FROM toksets),
    bands AS ({band_selects})
    """


@query(
    "llm_dedup_minhash",
    oracle=_duck_minhash_cte()
    + """,
    bmins AS (SELECT band, bkey, min(doc_id) AS bmin FROM bands GROUP BY 1, 2),
    clusters AS (SELECT b.doc_id, min(m.bmin) AS cluster_id
                 FROM bands b JOIN bmins m
                   ON b.band = m.band AND b.bkey = m.bkey
                 GROUP BY b.doc_id)
    SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM clusters
    """,
)
def llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH dedup (L2): shingle → minhash signature → band keys
    → cluster assignment (min doc_id over every shared band bucket) →
    keep/drop flag.

    Scale design: the output is O(n) keep/drop decisions, NOT the
    O(clique²) near-dup pair list — this corpus has a ~28%-of-corpus
    near-identical clique, so any pair-emitting formulation does ~2M
    array intersections inside one skewed bucket (measured 15-38s at
    sf0.1); the cluster formulation is two skew-tolerant hash aggs +
    one join against single-row bucket keys (~2s). md5-based
    signatures stay identical across partitions and engines, so the
    DuckDB oracle reproduces clusters exactly. Exact pairwise-Jaccard
    verification on a bounded pair set lives in llm_dedup_jaccard."""
    docs = table(spark, sf_dir, "documents")
    toksets = docs.select("doc_id", F.array_distinct(tokens("text")).alias("ts"))
    sigs = attach_minhash(toksets, "ts", MINHASH_K).drop("ts")
    r = MINHASH_ROWS_PER_BAND
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[F.col(f"s{b * r + i}") for i in range(r)]).alias("bkey"),
        )
        for b in range(MINHASH_K // r)
    ]
    bands = sigs.select("doc_id", F.explode(F.array(*band_structs)).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.bkey").alias("bkey")
    )
    bmins = bands.groupBy("band", "bkey").agg(F.min("doc_id").alias("bmin"))
    # shuffle_hash hint: a broadcast join here would recompute the whole
    # signature pipeline for the probe side; forcing a shuffled join lets
    # Spark REUSE the (band, bkey) exchange for both the agg and the join
    # (one signature pass, measured 2x at sf0.1), keeps map-side partial
    # aggregation, and stays AQE-skew-splittable for mega-cliques.
    clusters = (
        bands.join(bmins.hint("shuffle_hash"), ["band", "bkey"])
        .groupBy("doc_id")
        .agg(F.min("bmin").alias("cluster_id"))
    )
    return clusters.select(
        "doc_id", "cluster_id", (F.col("doc_id") == F.col("cluster_id")).alias("keep")
    )


@query("llm_dedup_minhash_fast")  # rows-only: xxhash64 is Spark-native
def llm_dedup_minhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION MinHash path: identical band/cluster pipeline to
    llm_dedup_minhash but signatures are min(xxhash64(token, seed_i))
    — one cheap JVM hash per (token, perm) instead of md5 hex
    slicing. No DuckDB twin (xxhash64 is Spark-specific), so this key
    is rows-only; tests/test_round2.py asserts keep-decision agreement
    with the oracle-checked md5 variant. At 100 TB this is the
    variant you run; the md5 form exists to PROVE the pipeline."""
    docs = table(spark, sf_dir, "documents")
    toksets = docs.select("doc_id", F.array_distinct(tokens("text")).alias("ts"))

    def perm(i):
        return lambda t: F.xxhash64(t, F.lit(i))

    sigs = toksets.select(
        "doc_id",
        *[
            F.array_min(F.transform(F.col("ts"), perm(i))).alias(f"s{i}")
            for i in range(MINHASH_K)
        ],
    )
    r = MINHASH_ROWS_PER_BAND
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[F.col(f"s{b * r + i}") for i in range(r)]).alias("bkey"),
        )
        for b in range(MINHASH_K // r)
    ]
    bands = sigs.select("doc_id", F.explode(F.array(*band_structs)).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.bkey").alias("bkey")
    )
    bmins = bands.groupBy("band", "bkey").agg(F.min("doc_id").alias("bmin"))
    # shuffle_hash hint: a broadcast join here would recompute the whole
    # signature pipeline for the probe side; forcing a shuffled join lets
    # Spark REUSE the (band, bkey) exchange for both the agg and the join
    # (one signature pass, measured 2x at sf0.1), keeps map-side partial
    # aggregation, and stays AQE-skew-splittable for mega-cliques.
    clusters = (
        bands.join(bmins.hint("shuffle_hash"), ["band", "bkey"])
        .groupBy("doc_id")
        .agg(F.min("bmin").alias("cluster_id"))
    )
    return clusters.select(
        "doc_id", "cluster_id", (F.col("doc_id") == F.col("cluster_id")).alias("keep")
    )


# --------------------------------------------------------------------------
# L2b — metadata-blocked exact n-gram Jaccard
# --------------------------------------------------------------------------
@query(
    "llm_dedup_jaccard",
    oracle=f"""
    WITH toksets AS (SELECT doc_id, lang, source, {_DUCK_TOKSET} AS ts FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
                 / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 6) AS jac
    FROM toksets a
    JOIN toksets b ON a.lang = b.lang AND a.source = b.source
                  AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
          / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
          >= {BLOCK_JACCARD_TAU}
    """,
)
def llm_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard over metadata-blocked pairs (L2 verify
    stage): blocking on (lang, source) bounds the pair count the same
    way LSH bands do, with exact SQL-oracle semantics."""
    from etl_framework_spark.operators.dedup import blocked_jaccard_pairs

    docs = table(spark, sf_dir, "documents")
    toksets = docs.select(
        "doc_id", "lang", "source", F.array_distinct(tokens("text")).alias("ts")
    )
    # token-explode equi-join pair builder: shared-token counts from one
    # partial-agg shuffle; pairs with zero overlap never materialize
    # (2.9s -> 1.4s at sf0.1 vs array_intersect-per-pair, same rows).
    return (
        blocked_jaccard_pairs(toksets)
        .filter(F.col("jac") >= BLOCK_JACCARD_TAU)
        .select("id_a", "id_b", F.round("jac", 6).alias("jac"))
    )


# --------------------------------------------------------------------------
# L2c — SimHash fingerprints + near-pairs by Hamming distance
# --------------------------------------------------------------------------
@query(
    "llm_simhash",
    oracle=f"""
    SELECT doc_id, {duck_simhash_bits(_DUCK_TOKSET, 16)} AS simhash
    FROM documents
    """,
)
def llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 16-bit SimHash signature (L2): majority vote of token-
    hash bits; entirely codegen'd column math, no shuffle."""
    docs = table(spark, sf_dir, "documents")
    return attach_simhash(
        docs.select("doc_id", F.array_distinct(tokens("text")).alias("__ts")),
        "__ts", 16, "simhash",
    ).drop("__ts")


@query(
    "llm_dedup_simhash",
    oracle=f"""
    WITH sh AS (SELECT doc_id, lang, {duck_simhash_bits(_DUCK_TOKSET, 16)} AS simhash
                FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (L2): Hamming ≤ 3 within language blocks.
    At 100 TB the block key becomes simhash bit-bands (pigeonhole) —
    same join shape, bounded buckets."""
    docs = table(spark, sf_dir, "documents")
    sh = attach_simhash(
        docs.select("doc_id", "lang", F.array_distinct(tokens("text")).alias("__ts")),
        "__ts", 16, "simhash",
    ).drop("__ts")
    a = sh.alias("a")
    b = sh.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, (F.col("a.lang") == F.col("b.lang")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(ham <= 3)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
    )


# --------------------------------------------------------------------------
# L4 — text analysis
# --------------------------------------------------------------------------
@query(
    "llm_text_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, n_chars, {_DUCK_TOKS} AS l FROM documents)
    SELECT doc_id,
           CAST(len(l) AS INT) AS n_tokens,
           CAST(len(list_distinct(l)) AS INT) AS n_distinct,
           round(CAST(len(list_distinct(l)) AS DOUBLE) / len(l), 6) AS ttr,
           round(CAST(list_sum(list_transform(l, x -> length(x))) AS DOUBLE)
                 / len(l), 6) AS avg_tok_len,
           CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS INT) AS n_bpe,
           round(CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                 / n_chars, 6) AS punct_ratio
    FROM t
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics (L4): token counts, type-token
    ratio, BPE-ish token count, punctuation ratio."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "text", "n_chars", tokens("text").alias("l"))
    n_tok = F.size("l")
    n_dis = F.size(F.array_distinct("l"))
    tok_chars = F.aggregate(
        F.transform("l", lambda x: F.length(x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return t.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_dis.alias("n_distinct"),
        F.round(n_dis.cast("double") / n_tok, 6).alias("ttr"),
        F.round(tok_chars.cast("double") / n_tok, 6).alias("avg_tok_len"),
        F.expr(f"size(regexp_extract_all(text, '{BPE_PATTERN}', 0))").alias("n_bpe"),
        F.round(
            F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).cast("double")
            / F.col("n_chars"),
            6,
        ).alias("punct_ratio"),
    )


# --------------------------------------------------------------------------
# L5 — declarative quality filter
# --------------------------------------------------------------------------
@query(
    "llm_quality_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, n_chars, {_DUCK_TOKS} AS l FROM documents)
    SELECT doc_id, lang, n_chars,
           CAST(len(l) AS INT) AS n_tokens,
           round(CAST(len(list_filter(l, x -> x IN
               ({", ".join("'" + w + "'" for w in STOPWORDS["en"])}))) AS DOUBLE)
               / len(l), 6) AS stop_ratio
    FROM t
    WHERE n_chars BETWEEN 100 AND 450
      AND lang IN ('en', 'es', 'de')
      AND len(l) BETWEEN 10 AND 90
      AND CAST(len(list_filter(l, x -> x IN
          ({", ".join("'" + w + "'" for w in STOPWORDS["en"])}))) AS DOUBLE)
          / len(l) <= 0.9
    """,
)
def llm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gates (L5): char/token-count bounds, language allowlist,
    stopword-ratio ceiling — all composable P2 predicates."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", "n_chars", tokens("text").alias("l"))
    n_tok = F.size("l")
    sr = stopword_ratio(F.col("l"), "en")
    return (
        t.filter(
            F.col("n_chars").between(100, 450)
            & F.col("lang").isin("en", "es", "de")
            & n_tok.between(10, 90)
            & (sr <= 0.9)
        )
        .select(
            "doc_id",
            "lang",
            "n_chars",
            n_tok.alias("n_tokens"),
            F.round(sr, 6).alias("stop_ratio"),
        )
    )


# --------------------------------------------------------------------------
# L4b — heuristic language identification
# --------------------------------------------------------------------------
def _duck_lang_score(lang: str) -> str:
    wl = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"CAST(len(list_filter(l, t -> t IN ({wl}))) AS DOUBLE) / len(l)"


@query(
    "llm_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_DUCK_TOKS} AS l FROM documents),
    s AS (SELECT doc_id, lang,
                 {_duck_lang_score("en")} AS s_en,
                 {_duck_lang_score("es")} AS s_es,
                 {_duck_lang_score("de")} AS s_de,
                 {_duck_lang_score("fr")} AS s_fr
          FROM t)
    SELECT doc_id, lang AS meta_lang,
           CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0
                  THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
                WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
                WHEN s_fr > 0 THEN 'fr'
                ELSE 'und' END AS pred_lang,
           round(s_en, 6) AS score_en
    FROM s
    """,
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (L4): stopword-hit ratios per language,
    argmax with a fixed tie order (en > es > de > fr > und)."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", tokens("text").alias("l"))
    s = lang_scores(F.col("l"))
    pred = (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] > 0),
            "en",
        )
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]) & (s["es"] > 0), "es")
        .when((s["de"] >= s["fr"]) & (s["de"] > 0), "de")
        .when(s["fr"] > 0, "fr")
        .otherwise("und")
    )
    return t.select(
        "doc_id",
        F.col("lang").alias("meta_lang"),
        pred.alias("pred_lang"),
        F.round(s["en"], 6).alias("score_en"),
    )


# --------------------------------------------------------------------------
# L4c — document fingerprint (min-hash over 3-gram shingles)
# --------------------------------------------------------------------------
@query(
    "llm_fingerprint",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    s AS (SELECT doc_id,
                 list_transform(generate_series(1, greatest(len(l) - 2, 1)),
                                i -> concat_ws(' ', l[i], l[i+1], l[i+2])) AS sh
          FROM t)
    SELECT doc_id,
           CAST(len(sh) AS INT) AS n_shingles,
           list_min(list_transform(sh, x -> md5(x))) AS fp_hash
    FROM s
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 3-gram shingle fingerprint (L4): min over shingle
    hashes — a winnowing-style content signature."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("l"))
    sh = shingles("l", 3)
    return t.select(
        "doc_id",
        F.size(sh).alias("n_shingles"),
        F.array_min(F.transform(sh, lambda x: F.md5(x))).alias("fp_hash"),
    )


# --------------------------------------------------------------------------
# L6 — multimodal binary columns
# --------------------------------------------------------------------------
@query(
    "mm_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           sha256(text) AS digest,
           'application/octet-stream' AS mime
    FROM documents
    """,
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata (L6): opaque bytes with exact
    length/digest semantics (sha256 over the same UTF-8 bytes on both
    engines)."""
    docs = table(spark, sf_dir, "documents")
    b = multimodal.attach_binary(docs)
    return b.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("digest"),
        F.col("meta.mime").alias("mime"),
    )


@query("mm_decode")  # rows-only: the decode kernel is a deterministic stub
def mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched media decode plumbing (L6 ⛔): mapInPandas over
    binary payloads; the codec itself is stubbed (none installed) but
    schema/batching/partitioning are the real 100 TB shape."""
    docs = table(spark, sf_dir, "documents")
    return multimodal.decode_media(multimodal.attach_binary(docs))


@query(
    "mm_framesample",
    oracle="""
    WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    f AS (SELECT doc_id, n,
                 unnest(generate_series(0, CAST(floor((n - 1) / 256.0) AS BIGINT)))
                   AS blk
          FROM d)
    SELECT doc_id,
           CAST(blk * 4 AS INT) AS frame_idx,
           CAST(least(64, n - blk * 256) AS INT) AS frame_bytes
    FROM f
    """,
)
def mm_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (L6): payload sliced into 64-byte frames, every
    4th kept — Arrow-batched mapInPandas fan-out (one row per sampled
    frame). The frame geometry (index, byte count) is pure arithmetic
    on the payload length, so the oracle reproduces it exactly from
    octet_length; the per-frame digest is unit-tested instead."""
    docs = table(spark, sf_dir, "documents")
    frames = multimodal.sample_frames(multimodal.attach_binary(docs))
    return frames.select("doc_id", "frame_idx", "frame_bytes")


@query(
    "llm_dedup_cc",
    oracle=_duck_minhash_cte().replace("WITH toksets", "WITH RECURSIVE toksets", 1)
    + """,
    bmins AS MATERIALIZED (SELECT band, bkey, min(doc_id) AS bmin
                           FROM bands GROUP BY 1, 2),
    e AS MATERIALIZED (SELECT DISTINCT b.doc_id AS pa, m.bmin AS pb
         FROM bands b JOIN bmins m ON b.band = m.band AND b.bkey = m.bkey
         WHERE b.doc_id <> m.bmin),
    sym AS MATERIALIZED (SELECT pa, pb FROM e
                         UNION SELECT pb AS pa, pa AS pb FROM e),
    reach AS (SELECT doc_id AS node, doc_id AS r FROM documents
              UNION
              SELECT reach.node, s.pb AS r
              FROM reach JOIN sym s ON s.pa = reach.r)
    SELECT node AS doc_id, min(r) AS component, node = min(r) AS keep
    FROM reach GROUP BY node
    """,
)
def llm_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters (L2 fixpoint): label propagation
    over the LSH band graph until convergence. The one-pass bucket-min
    of llm_dedup_minhash under-merges chains (A~B~C where A,C never
    share a bucket); this converges to the true connected components.
    Star edges (doc -> bucket min) keep the edge list O(n·bands), not
    O(clique²). Unit-tested against a union-find reference; the exact
    oracle is a DuckDB RECURSIVE closure (UNION-deduped reachability →
    min reachable id), which is affordable because near-dup components
    have tiny diameter even when they are a large fraction of the
    corpus."""
    from etl_framework_spark.operators.graph import connected_components

    docs = table(spark, sf_dir, "documents")
    toksets = docs.select("doc_id", F.array_distinct(tokens("text")).alias("ts"))
    sigs = attach_minhash(toksets, "ts", MINHASH_K).drop("ts")
    r = MINHASH_ROWS_PER_BAND
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[F.col(f"s{b * r + i}") for i in range(r)]).alias("bkey"),
        )
        for b in range(MINHASH_K // r)
    ]
    bands = sigs.select("doc_id", F.explode(F.array(*band_structs)).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.bkey").alias("bkey")
    )
    bmins = bands.groupBy("band", "bkey").agg(F.min("doc_id").alias("bmin"))
    # shuffle_hash: reuse the (band, bkey) exchange (see llm_dedup_minhash)
    edges = (
        bands.join(bmins.hint("shuffle_hash"), ["band", "bkey"])
        .filter(F.col("doc_id") != F.col("bmin"))
        .select(F.col("doc_id").alias("src"), F.col("bmin").alias("dst"))
        .distinct()
    )
    cc = connected_components(edges, max_iter=15)
    # singletons (no edges) are their own component
    all_docs = docs.select(F.col("doc_id").alias("node"))
    full = all_docs.join(cc, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce("component", F.col("node")).alias("component"),
    )
    return full.withColumn("keep", F.col("doc_id") == F.col("component"))


# --------------------------------------------------------------------------
# L6 — codec-free multimodal near-dup (byte-distribution fingerprint)
# --------------------------------------------------------------------------
_BH_TAU = 0.05  # normalized L1 distance threshold (probe: 9 pairs at
# sf0.001, min 0.013, median 0.123 — separates near-dups from the bulk)
_HEX_NIBBLES = "0123456789ABCDEF"


def _bh_oracle() -> str:
    cols = ", ".join(
        f"length(hx) - length(replace(hx, '{c}', '')) AS c{i}"
        for i, c in enumerate(_HEX_NIBBLES)
    )
    dsum = " + ".join(
        f"abs(a.c{i} * b.n - b.c{i} * a.n)" for i in range(16)
    )
    return f"""
    WITH h AS (
      SELECT doc_id, lang, source, hex(encode(text)) AS hx FROM documents
    ),
    f AS (SELECT doc_id, lang, source, length(hx) AS n, {cols} FROM h)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(({dsum}) / (CAST(a.n AS DOUBLE) * b.n), 6) AS l1_dist
    FROM f a JOIN f b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE ({dsum}) / (CAST(a.n AS DOUBLE) * b.n) <= {_BH_TAU}
    """


@query("mm_byte_histogram_neardup", oracle=_bh_oracle())
def mm_byte_histogram_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup WITHOUT decoding: payloads are fingerprinted
    by their 16-bin nibble histogram (one hex() + 16 translate-counts
    per payload — pure byte-distribution, works on any media format
    with no codec), and pairs within a (lang, source) block whose
    length-normalized L1 distance is ≤ 0.05 are near-dup candidates.
    The distance compares exact INTEGER cross products
    Σ|cₐᵢ·n_b − c_bᵢ·nₐ| and divides once at the end, so both engines
    agree bit-for-bit after round(6). This is the honest content
    similarity available when decode is environment-blocked (see
    mm_decode's gated stub): re-encoded or trivially-edited copies of
    the same media keep their byte distribution while cryptographic
    digests (mm_dedup_exact) break. Feature extraction is one
    map-side pass; candidate work is bounded by the metadata block
    like the Jaccard family (×10 exponent 1.28 — the block² term). A
    banded scale twin (bucket on the integer-quantized bin-0 rate,
    probe ±1 — pigeonhole-sound) was measured and REJECTED: natural-
    text byte distributions cluster so tightly that the buckets
    collapse into one (exp 1.15, slower in absolute terms at both
    probe scales); a real media corpus with heterogeneous formats
    would re-open that door, and the construction is recorded in
    SCALE.md. Ref: reference multimodal near-dup tests
    (cf. mm_dedup_exact — the exact-digest cousin)."""
    docs = table(spark, sf_dir, "documents")
    hx = F.hex(F.encode(F.col("text"), "utf-8"))
    feats = docs.select(
        "doc_id",
        "lang",
        "source",
        F.length(hx).alias("n"),
        *[
            (F.length(hx) - F.length(F.translate(hx, c, ""))).alias(f"c{i}")
            for i, c in enumerate(_HEX_NIBBLES)
        ],
    )
    # r11 optimization: materialize the fingerprint table once
    # (lazy localCheckpoint). Without the barrier, the self-join makes
    # Spark (a) run the hex+16-translate extraction once PER SIDE, and
    # (b) infer isnotnull(cᵢ) constraints from the null-intolerant
    # distance condition and push them below the projection, where
    # each of the 16 predicates re-derives the full hex(encode(text))
    # chain per row with no cross-predicate CSE (~33 hex evaluations
    # per doc per side in the Filter alone — the plan's operator (2)).
    # The checkpoint computes the 19-column fingerprint row exactly
    # once and the join reads small materialized rows — guide §8's
    # "decide with small rows" layout, and at 100 TB checkpointing
    # ~150 B/doc is negligible next to re-hexing payloads twice.
    # Measured 8.56 s → 2.51 s at sf0.1 (median-of-3, blocks released
    # between runs; value-identical output, 638 pairs).
    feats = feats.localCheckpoint(eager=False)
    a = feats.alias("a")
    b = feats.alias("b")
    dsum = None
    for i in range(16):
        term = F.abs(
            F.col(f"a.c{i}") * F.col("b.n") - F.col(f"b.c{i}") * F.col("a.n")
        )
        dsum = term if dsum is None else dsum + term
    dist = dsum / (F.col("a.n").cast("double") * F.col("b.n"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(dist <= _BH_TAU)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(dist, 6).alias("l1_dist"),
        )
    )
