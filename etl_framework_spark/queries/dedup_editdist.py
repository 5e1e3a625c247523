"""Edit-distance near-dup dedup (headline: ``llm_dedup_editdist``,
PassJoin-style positional segment candidates + bag-distance prune +
banded Levenshtein DP), plus the time-series resample/gapfill/OHLC/
autocorr/burstiness keys, sales Pareto/ABC/MoM composites, and the
language-ID confusion / dedup-cluster-profile evaluation reports that
reuse llm_lang_id / llm_dedup_minhash machinery with exact oracles.
"""

from __future__ import annotations

# Edit-distance threshold for llm_dedup_editdist: shared by the
# PassJoin segment layout (τ+1 segments, ±τ probe shifts), the
# bag-distance prune, the banded Levenshtein DP, the final filter,
# AND (via f-string) the DuckDB oracle — hoisted so the five can
# never desync (ADVICE r9).
EDITDIST_TAU = 8

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.queries.llm import (
    _DUCK_TOKS,
    _duck_lang_score,
    _duck_minhash_cte,
    llm_dedup_minhash,
    llm_lang_id,
)
from etl_framework_spark.registry import query
from etl_framework_spark.session import prep


@query(
    "llm_langid_confusion",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_DUCK_TOKS} AS l FROM documents),
    s AS (SELECT doc_id, lang,
                 {_duck_lang_score("en")} AS s_en,
                 {_duck_lang_score("es")} AS s_es,
                 {_duck_lang_score("de")} AS s_de,
                 {_duck_lang_score("fr")} AS s_fr
          FROM t),
    pred AS (
      SELECT lang AS meta_lang,
             CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0
                    THEN 'en'
                  WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
                  WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
                  WHEN s_fr > 0 THEN 'fr'
                  ELSE 'und' END AS pred_lang
      FROM s)
    SELECT meta_lang, pred_lang, count(*) AS n
    FROM pred GROUP BY meta_lang, pred_lang
    """,
)
def llm_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation composite: the llm_lang_id predictions
    grouped into a (true lang × predicted lang) confusion matrix —
    the report a corpus pipeline publishes to monitor its language
    gates. Reuses the exact lang-ID operator, then one tiny agg."""
    pred = llm_lang_id(spark, sf_dir)
    return pred.groupBy("meta_lang", "pred_lang").agg(F.count("*").alias("n"))


@query(
    "llm_dedup_cluster_profile",
    oracle=_duck_minhash_cte()
    + """,
    bmins AS (SELECT band, bkey, min(doc_id) AS bmin FROM bands GROUP BY 1, 2),
    clusters AS (SELECT b.doc_id, min(m.bmin) AS cluster_id
                 FROM bands b JOIN bmins m
                   ON b.band = m.band AND b.bkey = m.bkey
                 GROUP BY b.doc_id),
    sizes AS (SELECT cluster_id, count(*) AS cluster_size
              FROM clusters GROUP BY cluster_id)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           count(*) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs,
           CAST(sum(cluster_size) - count(*) AS BIGINT) AS n_dropped
    FROM sizes GROUP BY cluster_size
    """,
)
def llm_dedup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report: histogram of near-dup cluster sizes with
    docs-kept vs docs-dropped per size — the number a data-curation
    run publishes ('one 140-doc clique, 400 singletons, 22% dropped').
    Built on the exact MinHash cluster assignment; two vocab-sized
    aggs on top."""
    clusters = llm_dedup_minhash(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
        (F.sum("cluster_size") - F.count("*")).alias("n_dropped"),
    )


# --------------------------------------------------------------------------
# TS — regular-grid resampling with linear interpolation
# --------------------------------------------------------------------------
@query(
    "ts_resample_interp",
    oracle="""
    WITH ev AS (SELECT user_id, date_trunc('second', ts) AS ts, value,
                       event_id
                FROM events),
    bounds AS (SELECT user_id, date_trunc('hour', min(ts)) AS lo,
                      date_trunc('hour', max(ts)) AS hi
               FROM ev GROUP BY user_id),
    grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                    AS ts
             FROM bounds),
    u AS (SELECT user_id, ts, 0 AS is_grid, value,
                 COALESCE(event_id, -1) AS event_id FROM ev
          UNION ALL
          SELECT user_id, ts, 1, NULL, -1 FROM grid),
    w AS (SELECT user_id, ts, is_grid,
                 last_value(value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, is_grid, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
                 last_value(CASE WHEN is_grid = 0 THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, is_grid, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
                 first_value(value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, is_grid, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
                 first_value(CASE WHEN is_grid = 0 THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, is_grid, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS tn
          FROM u)
    SELECT user_id, ts AS grid_ts,
           floor((vp + (vn - vp)
                  * (CAST(CAST(floor(epoch(ts)) AS BIGINT)
                          - CAST(floor(epoch(tp)) AS BIGINT) AS DOUBLE)
                     / (CAST(floor(epoch(tn)) AS BIGINT)
                        - CAST(floor(epoch(tp)) AS BIGINT))))
                 * 1000000 + 0.5) / 1000000 AS interp
    FROM w
    WHERE is_grid = 1 AND tp IS NOT NULL AND tn IS NOT NULL
    """,
)
def ts_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's irregular event series onto a regular
    hourly grid with linear interpolation — the time-series op Spark
    has no primitive for. Union-tag dataflow (same trick as the as-of
    join): grid points and events interleave in ONE window pass per
    direction; state is one running (value, ts) pair, so the plan is
    two windows on the user_id hash — no join, no explosion beyond
    |grid|. Bits match the oracle exactly: second-epoch deltas are
    integers, the interpolation arithmetic is identical, and the
    output is tie-safe floor-quantized."""
    from pyspark.sql import Window as W

    from etl_framework_spark.catalog import table as _table

    ev = (
        _table(spark, sf_dir, "events")
        .withColumn("tts", F.date_trunc("second", F.col("ts")))
        .select("user_id", F.col("tts").alias("ts"), "value", "event_id")
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("ts"),
    )
    u = ev.select(
        "user_id",
        "ts",
        F.lit(0).alias("is_grid"),
        "value",
        F.coalesce(F.col("event_id"), F.lit(-1)).alias("event_id"),
    ).unionByName(
        grid.select(
            "user_id",
            "ts",
            F.lit(1).alias("is_grid"),
            F.lit(None).cast("double").alias("value"),
            F.lit(-1).alias("event_id"),
        )
    )
    wo = W.partitionBy("user_id").orderBy("ts", "is_grid", "event_id")
    back = wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    # The forward neighbor comes from a running last() over the
    # REVERSE order, not a (currentRow, unboundedFollowing) frame:
    # Spark's UnboundedFollowing frame re-scans forward from every row
    # (per-row O(distance-to-next-event)), while a reverse-ordered
    # running frame keeps O(1) state per row at the cost of one extra
    # in-partition sort — measured 2.13 s → 0.60 s for the window
    # stage at sf0.1, bit-identical output (r7).
    rev = (
        W.partitionBy("user_id")
        .orderBy(
            F.col("ts").desc(), F.col("is_grid").desc(),
            F.col("event_id").desc(),
        )
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ev_ts = F.when(F.col("is_grid") == 0, F.col("ts"))
    w = u.select(
        "user_id",
        "ts",
        "is_grid",
        F.last("value", ignorenulls=True).over(back).alias("vp"),
        F.last(ev_ts, ignorenulls=True).over(back).alias("tp"),
        F.last("value", ignorenulls=True).over(rev).alias("vn"),
        F.last(ev_ts, ignorenulls=True).over(rev).alias("tn"),
    )
    frac = (
        (F.unix_timestamp("ts") - F.unix_timestamp("tp")).cast("double")
        / (F.unix_timestamp("tn") - F.unix_timestamp("tp"))
    )
    interp = F.col("vp") + (F.col("vn") - F.col("vp")) * frac
    return (
        w.filter(
            (F.col("is_grid") == 1)
            & F.col("tp").isNotNull()
            & F.col("tn").isNotNull()
        )
        .select(
            "user_id",
            F.col("ts").alias("grid_ts"),
            (
                F.floor(interp * F.lit(1000000.0) + F.lit(0.5))
                / F.lit(1000000.0)
            ).alias("interp"),
        )
    )


@query(
    "ts_gapfill_locf",
    oracle="""
    WITH ev AS (SELECT user_id, date_trunc('second', ts) AS ts, value,
                       event_id
                FROM events),
    bounds AS (SELECT user_id, date_trunc('hour', min(ts)) AS lo,
                      date_trunc('hour', max(ts)) AS hi
               FROM ev GROUP BY user_id),
    grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                    AS ts
             FROM bounds),
    u AS (SELECT user_id, ts, 0 AS is_grid, value,
                 COALESCE(event_id, -1) AS event_id FROM ev
          UNION ALL
          SELECT user_id, ts, 1, NULL, -1 FROM grid),
    w AS (SELECT user_id, ts, is_grid,
                 last_value(value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, is_grid, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
          FROM u)
    SELECT user_id, ts AS grid_ts, locf
    FROM w WHERE is_grid = 1 AND locf IS NOT NULL
    """,
)
def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-function gap fill: last observation carried forward onto
    the hourly grid — the resampling mode for state-like series
    (interpolating a status makes no sense). Single backward window
    pass; values pass through untouched so no quantization is
    needed."""
    from pyspark.sql import Window as W

    from etl_framework_spark.catalog import table as _table

    ev = (
        _table(spark, sf_dir, "events")
        .withColumn("tts", F.date_trunc("second", F.col("ts")))
        .select("user_id", F.col("tts").alias("ts"), "value", "event_id")
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("ts"),
    )
    u = ev.select(
        "user_id",
        "ts",
        F.lit(0).alias("is_grid"),
        "value",
        F.coalesce(F.col("event_id"), F.lit(-1)).alias("event_id"),
    ).unionByName(
        grid.select(
            "user_id",
            "ts",
            F.lit(1).alias("is_grid"),
            F.lit(None).cast("double").alias("value"),
            F.lit(-1).alias("event_id"),
        )
    )
    wo = W.partitionBy("user_id").orderBy("ts", "is_grid", "event_id")
    back = wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    w = u.select(
        "user_id",
        "ts",
        "is_grid",
        F.last("value", ignorenulls=True).over(back).alias("locf"),
    )
    return (
        w.filter((F.col("is_grid") == 1) & F.col("locf").isNotNull())
        .select("user_id", F.col("ts").alias("grid_ts"), "locf")
    )


@query(
    "ts_ohlc",
    oracle="""
    WITH ev AS (SELECT user_id, date_trunc('second', ts) AS tts, value,
                       event_id, date_trunc('day', date_trunc('second', ts)) AS day
                FROM events),
    r AS (SELECT user_id, day, value, tts, event_id,
                 row_number() OVER (PARTITION BY user_id, day
                                    ORDER BY tts, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY user_id, day
                                    ORDER BY tts DESC, event_id DESC) AS rn_z
          FROM ev)
    SELECT user_id, day,
           min(CASE WHEN rn_a = 1 THEN value END) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           min(CASE WHEN rn_z = 1 THEN value END) AS close,
           count(*) AS n_events,
           round(sum(value), 4) AS volume
    FROM r GROUP BY user_id, day
    """,
)
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling bars per (user, day): open/close via
    tie-broken first/last row numbers, high/low/volume as ordinary
    aggregates — the standard time-series compaction that turns raw
    ticks into bounded per-bucket state. Two windows + one agg, all
    hash-partitioned on (user_id, day)."""
    from pyspark.sql import Window as W

    from etl_framework_spark.catalog import table as _table

    ev = (
        _table(spark, sf_dir, "events")
        .withColumn("tts", F.date_trunc("second", F.col("ts")))
        .withColumn("day", F.date_trunc("day", F.col("tts")))
    )
    wa = W.partitionBy("user_id", "day").orderBy("tts", "event_id")
    wz = W.partitionBy("user_id", "day").orderBy(
        F.col("tts").desc(), F.col("event_id").desc()
    )
    r = ev.select(
        "user_id",
        "day",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wz).alias("rn_z"),
    )
    return r.groupBy("user_id", "day").agg(
        F.min(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.min(F.when(F.col("rn_z") == 1, F.col("value"))).alias("close"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("volume"),
    )


@query(
    "llm_novelty",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(
                      generate_series(1, greatest(len(l) - 2, 1)),
                      i -> concat_ws(' ', l[i], l[i+1], l[i+2])))) AS s
           FROM t),
    firsts AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN firsts.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN firsts.first_doc = sh.doc_id
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS novelty
    FROM sh JOIN firsts ON firsts.s = sh.s
    GROUP BY sh.doc_id
    """,
)
def llm_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content novelty (L4/L5): fraction of a document's distinct
    3-gram shingles whose FIRST corpus occurrence (min doc_id — the
    ingestion-order proxy) is this document. Low novelty = mostly
    recycled text; the curation signal behind 'diminishing returns'
    dedup curves. One shingle explode + a vocab-sized first-occurrence
    table joined back on the shingle hash — collision-driven cost,
    never all-pairs."""
    from etl_framework_spark.catalog import table as _table
    from etl_framework_spark.operators.textops import shingles, tokens

    docs = _table(spark, sf_dir, "documents").withColumn("l", tokens("text"))
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles("l", 3))).alias("s"),
    )
    firsts = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    j = sh.join(firsts, "s")
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        novel.alias("n_novel"),
        F.round(novel.cast("double") / F.count("*"), 6).alias("novelty"),
    )


@query(
    "llm_quality_pctile",
    oracle="""
    WITH q AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS DOUBLE)
               / greatest(n_chars, 1) AS tok_density
      FROM documents)
    SELECT doc_id, source,
           round(tok_density, 6) AS tok_density,
           round(percent_rank() OVER (PARTITION BY source
                 ORDER BY tok_density, doc_id), 6) AS pctile_in_source
    FROM q
    """,
)
def llm_quality_pctile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score normalization: a raw quality signal (token density here)
    is re-expressed as its percent-rank WITHIN its source — the
    standard fix for cross-source score drift (one crawl's 0.3 is
    another's 0.7). Tie-broken total order keeps the rank exact on
    both engines; the window runs per source partition."""
    from pyspark.sql import Window as W

    from etl_framework_spark.catalog import table as _table

    d = _table(spark, sf_dir, "documents")
    dens = (
        F.size(F.split(F.col("text"), " ")).cast("double")
        / F.greatest(F.col("n_chars"), F.lit(1))
    )
    q = d.select("doc_id", "source", dens.alias("tok_density"))
    w = W.partitionBy("source").orderBy("tok_density", "doc_id")
    return q.select(
        "doc_id",
        "source",
        F.round("tok_density", 6).alias("tok_density"),
        F.round(F.percent_rank().over(w), 6).alias("pctile_in_source"),
    )


@query(
    "train_packing_eff",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    cum AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS c
      FROM toks),
    bins AS (
      SELECT source, CAST(floor((c - n_tok) / 256.0) AS BIGINT) AS bin,
             CAST(sum(n_tok) AS BIGINT) AS bin_tokens
      FROM cum GROUP BY source, bin)
    SELECT CAST(least(floor(bin_tokens / 64.0), 7) AS BIGINT) AS fill_bucket,
           count(*) AS n_bins,
           round(avg(CAST(bin_tokens AS DOUBLE)) / 256, 6) AS avg_fill
    FROM bins GROUP BY fill_bucket
    """,
)
def train_packing_eff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report over pack_sequences' bins: histogram
    of bin fill (64-token buckets, capped) plus mean fill ratio — the
    number that tells you whether the 256-token budget wastes compute
    (fill « 1) or the stream needs re-sorting by length. Bins are
    already a bounded aggregate; this is one more tiny agg on top."""
    from etl_framework_spark.catalog import table as _table
    from pyspark.sql import Window as W

    d = _table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
    )
    w = W.partitionBy("source").orderBy("doc_id")
    cum = toks.withColumn(
        "c", F.sum("n_tok").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    bins = (
        cum.withColumn(
            "bin", F.floor((F.col("c") - F.col("n_tok")) / F.lit(256.0)).cast("bigint")
        )
        .groupBy("source", "bin")
        .agg(F.sum("n_tok").alias("bin_tokens"))
    )
    return (
        bins.withColumn(
            "fill_bucket",
            F.least(F.floor(F.col("bin_tokens") / F.lit(64.0)), F.lit(7)).cast(
                "bigint"
            ),
        )
        .groupBy("fill_bucket")
        .agg(
            F.count("*").alias("n_bins"),
            F.round(F.avg(F.col("bin_tokens").cast("double")) / F.lit(256), 6).alias(
                "avg_fill"
            ),
        )
    )


@query(
    "llm_dedup_editdist",
    oracle=f"""
    WITH d AS (SELECT doc_id, lang, source, text,
                      length(text) AS n FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64))
                AS BIGINT) AS prefix_dist
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.source = b.source
     AND a.doc_id < b.doc_id
     AND abs(a.n - b.n) <= {2 * EDITDIST_TAU}
    WHERE levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64))
          <= {EDITDIST_TAU}
    """,
)
def llm_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup (the third dedup family after hashing
    and token sets): Levenshtein over 64-char prefixes, candidates
    bounded by (lang, source) blocks plus a length-difference filter
    (|len a − len b| ≤ 16 is a free lower bound on edit distance).

    r8 candidate generation (VERDICT r7 item 2 — the r7 length-banded
    join still measured exponent 1.37 because pair counts grow
    quadratically WITHIN each (lang, source, length-band) sliver):
    PassJoin-style positional segment filtering (Li, Deng & Feng,
    ICDE'11 — public algorithm). Pigeonhole: if lev(x, y) ≤ τ and y is
    partitioned into τ+1 segments, at least one segment of y occurs in
    x as an EXACT substring whose start position shifts by at most τ.
    With τ = 8 and both prefixes exactly 64 chars, the τ+1 = 9-segment
    layout is FIXED (one 8-char + eight 7-char segments), so:
      - the indexed side (larger doc_id) emits its 9 (slot, segment)
        keys;
      - the probe side emits, per slot, the substrings at every start
        shift δ ∈ [−8, +8] that fits — ~140 keys/doc, LINEAR in N;
      - candidates are equality-join matches on (lang, source, slot,
        substring) — position-anchored 7-grams, so corpus-hot tokens
        don't create df² buckets the way shared-token joins do.
    Docs shorter than 64 chars (2–3%% of the corpus) can't use the
    fixed layout; pairs touching them (both ends < 80 chars by the
    |Δn| ≤ 16 bound) fall back to the r7 length-banded quadratic join
    — a bounded sliver. Each qualifying pair lands in exactly one
    branch (min(n) < 64 xor both ≥ 64).

    A result-preserving prune runs between candidate generation and
    the DP: bag distance over 16-bucket char histograms (computed once
    per doc, not per pair) lower-bounds Levenshtein, and bucket-
    coarsening only shrinks it, so no qualifying pair is lost — the
    oracle stays the plain formulation. ~48 integer ops per candidate
    instead of a 64×64 DP.

    r9: candidate construction lives in editdist_candidates() so the
    scale probe can MEASURE candidate-volume growth per scale
    (VERDICT r8 item 6). Measured at ×30: segment candidates grow at
    exponent 1.34 (20k → 1.88M — probe-replica docs share unchanged
    position-anchored 7-grams), post-prune volume 103 → 342,699. A
    banded-histogram-mass second join key was tried and REJECTED on
    measurement: the replica alphabet maps permute chars within a
    fixed set, so colliding pairs are mass-preserving and the band
    killed only 0.1% of candidates while tripling index-key explode
    volume. The DP is bounded instead: levenshtein's threshold arg
    runs the banded O(|s|·2τ) DP and returns −1 past τ — exact for
    every kept row (oracle unchanged), measured neutral at probe
    scales (the candidate join dominates) but caps per-candidate
    work where candidate volume is the growth term."""
    _, _, pruned = editdist_candidates(spark, sf_dir)
    dist = F.levenshtein(F.col("__pfx_a"), F.col("__pfx_b"), EDITDIST_TAU)
    return pruned.select(
        "id_a",
        "id_b",
        dist.cast("bigint").alias("prefix_dist"),
    ).filter(F.col("prefix_dist").between(0, EDITDIST_TAU))


def editdist_candidates(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = None
):
    """llm_dedup_editdist's candidate frames, exposed for the scale
    probe's candidate-count instrumentation (VERDICT r8 item 6 — the
    ×30 residual exponent needed its growth source measured, not
    guessed). Returns ``(cand_long, cand_short, pruned)``:
    segment-join candidates (both prefixes 64 chars), the short-doc
    sliver's banded candidates, and their union after the free
    |Δn| ≤ 2τ + bag-distance lower-bound filters — everything that
    reaches the Levenshtein DP.

    ``bucket_cap`` (VERDICT r9 item 5 — the bounded-contract switch
    for the exp-1.34 candidate growth): when set, each index-side
    (lang, source, slot, segment) bucket keeps at most ``bucket_cap``
    entries (smallest doc_ids — deterministic), so total segment-join
    candidates are ≤ (probe keys ≈ 140·N) × cap: LINEAR in N by
    construction. The default (None) is the exact contract the oracle
    checks; the cap is the documented 100 TB regime and is
    recall-lossy ONLY for pairs whose every matching slot lands in an
    over-cap bucket — near-identical prefixes match many slots, so in
    the capped probe runs the kept-pair loss is measured, not assumed
    (see editdist_bucket_stats for the loud overflow accounting and
    artifacts/scale_probe.json for measured before/after)."""
    d, long_d, idx, probe_keys = _editdist_base(spark, sf_dir)
    TAU = EDITDIST_TAU
    delta_n = 2 * EDITDIST_TAU  # |len a − len b| blocking bound (oracle's 16)
    if bucket_cap is not None:
        from pyspark.sql import Window as W

        # deterministic per-bucket truncation: keep the bucket_cap
        # smallest doc_ids of each (lang, source, slot, segment).
        # The row_number window is one extra shuffle on exactly the
        # join key — the same partitioning the candidate join needs,
        # so AQE reuses the exchange where possible.
        _w = W.partitionBy("__l2", "__s2", "slot", "sub").orderBy("id_b")
        idx = (
            idx.withColumn("__rn", F.row_number().over(_w))
            .filter(F.col("__rn") <= bucket_cap)
            .drop("__rn")
        )
    prb = long_d.select(
        F.col("doc_id").alias("id_a"),
        "lang",
        "source",
        F.explode(probe_keys).alias("sg"),
    ).select(
        "id_a",
        "lang",
        "source",
        F.col("sg.slot").alias("__slot"),
        F.col("sg.sub").alias("__sub"),
    )
    pairs_long = (
        prb.join(
            idx,
            (F.col("lang") == F.col("__l2"))
            & (F.col("source") == F.col("__s2"))
            & (F.col("__slot") == F.col("slot"))
            & (F.col("__sub") == F.col("sub"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")  # a pair can match several slots
        .agg(F.count(F.lit(1)).alias("__m"))
        .drop("__m")
    )
    attrs = lambda side: d.select(
        F.col("doc_id").alias(f"id_{side}"),
        F.col("pfx").alias(f"__pfx_{side}"),
        F.col("n").alias(f"__n_{side}"),
        F.col("hist").alias(f"__h_{side}"),
    )
    cand_long = pairs_long.join(attrs("a"), "id_a").join(attrs("b"), "id_b")

    # ---- branch 2: pairs touching a short doc (min(n) < 64) --------
    # both ends are < 80 by |Δn| <= 16; r7 length-banded join, scoped
    # to this bounded sliver
    short_d = d.filter(F.col("n") < 64 + delta_n).withColumn(
        "bkt", F.floor(F.col("n") / delta_n).cast("bigint")
    )
    sa = short_d.alias("a")
    sb = short_d.withColumn(
        "bkt",
        F.explode(F.array(F.col("bkt") - 1, F.col("bkt"), F.col("bkt") + 1)),
    ).alias("b")
    cand_short = (
        sa.join(
            sb,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.least(F.col("a.n"), F.col("b.n")) < 64),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.pfx").alias("__pfx_a"),
            F.col("a.n").alias("__n_a"),
            F.col("a.hist").alias("__h_a"),
            F.col("b.pfx").alias("__pfx_b"),
            F.col("b.n").alias("__n_b"),
            F.col("b.hist").alias("__h_b"),
        )
    )

    cand = cand_long.select(cand_short.columns).unionAll(cand_short)
    lb1 = F.expr(
        "aggregate(zip_with(__h_a, __h_b, (x, y) -> greatest(x - y, 0)),"
        " 0, (acc, v) -> acc + v)"
    )
    lb2 = F.expr(
        "aggregate(zip_with(__h_a, __h_b, (x, y) -> greatest(y - x, 0)),"
        " 0, (acc, v) -> acc + v)"
    )
    pruned = cand.filter(
        F.abs(F.col("__n_a") - F.col("__n_b")) <= delta_n
    ).filter(F.greatest(lb1, lb2) <= TAU)
    return cand_long, cand_short, pruned


def llm_dedup_editdist_capped(
    spark: SparkSession, sf_dir: str, bucket_cap: int
) -> DataFrame:
    """The contract key's bounded-candidate scale regime: identical
    plan to ``llm_dedup_editdist`` but with the per-(lang, source,
    slot, segment) index bucket cap engaged, so candidate volume — the
    measured exp-1.34 growth term — is linear in N by construction.
    Deterministic (buckets keep smallest doc_ids) but recall-lossy on
    pairs whose every matching slot overflows; NOT registered as a
    contract key — the probe measures its kept-pair ratio against the
    exact key so the loss is a recorded number, not a guess."""
    _, _, pruned = editdist_candidates(spark, sf_dir, bucket_cap=bucket_cap)
    dist = F.levenshtein(F.col("__pfx_a"), F.col("__pfx_b"), EDITDIST_TAU)
    return pruned.select(
        "id_a",
        "id_b",
        dist.cast("bigint").alias("prefix_dist"),
    ).filter(F.col("prefix_dist").between(0, EDITDIST_TAU))


def _editdist_base(spark: SparkSession, sf_dir: str):
    """Shared construction for the PassJoin segment machinery: the doc
    frame (64-char prefix + length + 16-bucket char histogram), its
    n ≥ 64 subset, the UNCAPPED index-side (slot, segment) emission,
    and the probe-side key array expression."""
    prep(spark)
    from etl_framework_spark.catalog import table as _table

    TAU = EDITDIST_TAU
    d = _table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.substring("text", 1, 64).alias("pfx"),
        F.length("text").alias("n"),
    )
    d = d.withColumn(
        "hist",
        F.expr(
            "transform(sequence(0, 15),"
            " i -> size(filter(split(pfx, ''), c -> ascii(c) % 16 = i)))"
        ),
    )

    # fixed τ+1 = 9-segment layout over 64 chars: slot 0 has length 8
    # at position 1; slots 1..8 have length 7 at position 7j + 2
    def _slot(j: int) -> tuple[int, int]:
        return (1, 8) if j == 0 else (7 * j + 2, 7)

    long_d = d.filter(F.col("n") >= 64)
    idx_keys = F.array(
        *[
            F.struct(
                F.lit(j).alias("slot"),
                F.substring("pfx", _slot(j)[0], _slot(j)[1]).alias("sub"),
            )
            for j in range(TAU + 1)
        ]
    )
    probe_structs = []
    for j in range(TAU + 1):
        start, ln = _slot(j)
        for delta in range(-TAU, TAU + 1):
            pos = start + delta
            if pos < 1 or pos + ln - 1 > 64:
                continue
            probe_structs.append(
                F.struct(
                    F.lit(j).alias("slot"),
                    F.substring("pfx", pos, ln).alias("sub"),
                )
            )
    probe_keys = F.array(*probe_structs)
    idx = long_d.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("__l2"),
        F.col("source").alias("__s2"),
        F.explode(idx_keys).alias("sg"),
    ).select("id_b", "__l2", "__s2", "sg.slot", "sg.sub")
    return d, long_d, idx, probe_keys


def editdist_bucket_stats(
    spark: SparkSession, sf_dir: str, bucket_cap: int
) -> DataFrame:
    """Loud overflow accounting for the capped candidate regime
    (VERDICT r9 item 5): one row summarizing the index-side
    (lang, source, slot, segment) bucket distribution against
    ``bucket_cap`` — how many buckets exist, how many overflow the
    cap, how many index entries the cap drops, and the largest
    bucket. The scale probe records this next to the capped/uncapped
    candidate counts so the bound's engagement is measured, never
    silent."""
    _, _, idx, _ = _editdist_base(spark, sf_dir)
    sizes = idx.groupBy("__l2", "__s2", "slot", "sub").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum((F.col("sz") > bucket_cap).cast("bigint")).alias(
            "n_buckets_over_cap"
        ),
        F.sum(
            F.greatest(F.col("sz") - bucket_cap, F.lit(0))
        ).alias("entries_dropped"),
        F.max("sz").alias("max_bucket"),
    )


@query(
    "ts_autocorr",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_trunc('day', date_trunc('second', ts)) AS day,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY event_type, day),
    lagged AS (
      SELECT event_type, n,
             lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
      FROM daily)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           round(corr(n, prev_n), 6) AS lag1_autocorr
    FROM lagged WHERE prev_n IS NOT NULL
    GROUP BY event_type
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily event counts per type — the
    quick seasonality/trend detector for monitoring series. Daily
    counts are a bounded aggregate; the lag window and corr run over
    |types|×|days| rows."""
    from pyspark.sql import Window as W

    from etl_framework_spark.catalog import table as _table

    ev = _table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("tts")).alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    w = W.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type", "n", F.lag("n").over(w).alias("prev_n")
    ).filter(F.col("prev_n").isNotNull())
    return lagged.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.round(F.corr("n", "prev_n"), 6).alias("lag1_autocorr"),
    )


@query(
    "ts_burstiness",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_trunc('day', date_trunc('second', ts)) AS day,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY event_type, day)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           round(avg(n), 6) AS mean_daily,
           round(var_samp(n), 6) AS var_daily,
           round(var_samp(n) / avg(n), 6) AS fano
    FROM daily GROUP BY event_type
    """,
)
def ts_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor = variance/mean of daily counts) per
    event type: ≈1 for Poisson-like arrivals, »1 for bursty traffic —
    the one-number arrival-process check next to ts_autocorr. Bounded
    |types|×|days| aggregate."""
    from etl_framework_spark.catalog import table as _table

    ev = _table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("tts")).alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    return daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.round(F.avg("n"), 6).alias("mean_daily"),
        F.round(F.var_samp("n"), 6).alias("var_daily"),
        F.round(F.var_samp("n") / F.avg("n"), 6).alias("fano"),
    )


@query(
    "events_concurrency",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             date_trunc('second', ts) AS s,
             date_trunc('second', ts) + INTERVAL 15 MINUTE AS e
      FROM events),
    pts AS (SELECT s AS t, 1 AS d FROM iv
            UNION ALL SELECT e, -1 FROM iv),
    sw AS (SELECT t, d,
                  sum(d) OVER (ORDER BY t, d DESC
                               ROWS UNBOUNDED PRECEDING) AS cur
           FROM pts)
    SELECT date_trunc('day', t) AS day,
           CAST(max(cur) AS BIGINT) AS peak_concurrency
    FROM sw GROUP BY day
    """,
)
def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency via the classic sweep line: every activity
    interval (event + 15 min) contributes a +1 at its start and a −1
    at its end; a running sum over the merged timeline IS the live
    concurrency, and the per-day max is the capacity-planning number.
    Starts sort before ends at the same instant (d DESC) so touching
    intervals count as overlapping — pinned identically in both
    engines. One global ordered pass; at 100 TB the same sweep runs
    per shard key (e.g. per tenant) as an ordinary window."""
    from pyspark.sql import Window as W

    from etl_framework_spark.catalog import table as _table

    ev = _table(spark, sf_dir, "events").withColumn(
        "s", F.date_trunc("second", F.col("ts"))
    )
    iv = ev.select("s", (F.col("s") + F.expr("INTERVAL 15 MINUTES")).alias("e"))
    pts = iv.select(F.col("s").alias("t"), F.lit(1).alias("d")).unionAll(
        iv.select(F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    w = W.orderBy(F.col("t"), F.col("d").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sw = pts.select("t", F.sum("d").over(w).alias("cur"))
    return sw.groupBy(F.date_trunc("day", F.col("t")).alias("day")).agg(
        F.max("cur").cast("bigint").alias("peak_concurrency")
    )


@query(
    "sales_pareto",
    oracle="""
    WITH cust AS (
      SELECT o_custkey, sum(o_totalprice) AS rev
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT o_custkey, rev,
             ntile(10) OVER (ORDER BY rev DESC, o_custkey) AS decile
      FROM cust),
    tot AS (SELECT sum(rev) AS t FROM cust)
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(rev), 4) AS decile_rev,
           round(sum(rev) / (SELECT t FROM tot), 6) AS rev_share
    FROM ranked GROUP BY decile
    """,
)
def sales_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto) profile: customers ranked into
    deciles by revenue, each decile's share of the total — the 80/20
    check. Per-customer rollup is the only fact-sized shuffle; the
    decile window runs over |customers| with a tie-broken total
    order."""
    from pyspark.sql import Window as W

    from etl_framework_spark.catalog import table as _table

    o = _table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev"))
    tot = cust.agg(F.sum("rev").alias("t"))
    ranked = cust.select(
        "o_custkey",
        "rev",
        F.ntile(10).over(W.orderBy(F.col("rev").desc(), "o_custkey")).alias(
            "decile"
        ),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("rev"), 4).alias("decile_rev"),
            F.round(F.sum("rev") / F.first("t"), 6).alias("rev_share"),
        )
    )


@query(
    "sales_abc",
    oracle="""
    WITH cust AS (
      SELECT o_custkey, sum(o_totalprice) AS rev
      FROM orders GROUP BY o_custkey),
    tot AS (SELECT sum(rev) AS t FROM cust),
    run AS (
      SELECT o_custkey, rev,
             sum(rev) OVER (ORDER BY rev DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING)
               / (SELECT t FROM tot) AS cum_share
      FROM cust),
    cls AS (
      SELECT o_custkey, rev,
             CASE WHEN cum_share <= 0.8 THEN 'A'
                  WHEN cum_share <= 0.95 THEN 'B'
                  ELSE 'C' END AS abc
      FROM run)
    SELECT abc, CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(rev), 4) AS class_rev
    FROM cls GROUP BY abc
    """,
)
def sales_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory-style classification: customers sorted by revenue,
    class A = the prefix covering 80% of cumulative share, B to 95%,
    C the tail. The running share needs one |customers|-sized ordered
    window over the per-customer rollup (the only fact-sized shuffle
    is the rollup itself); class boundaries are exact because the
    cumulative sums are identical tie-broken prefix sums on both
    engines."""
    from pyspark.sql import Window as W

    from etl_framework_spark.catalog import table as _table

    o = _table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev"))
    tot = cust.agg(F.sum("rev").alias("t"))
    w = W.orderBy(F.col("rev").desc(), "o_custkey").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    run = cust.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "rev",
        (F.sum("rev").over(w) / F.col("t")).alias("cum_share"),
    )
    cls = run.select(
        "o_custkey",
        "rev",
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    return cls.groupBy("abc").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("rev"), 4).alias("class_rev"),
    )


@query(
    "llm_quality_outliers",
    oracle="""
    WITH q AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok
      FROM documents),
    st AS (SELECT source, avg(n_tok) AS mu, stddev_samp(n_tok) AS sd
           FROM q GROUP BY source)
    SELECT q.doc_id, q.source,
           round(q.n_tok, 6) AS n_tok,
           round((q.n_tok - st.mu) / st.sd, 6) AS z
    FROM q JOIN st ON st.source = q.source
    WHERE abs((q.n_tok - st.mu) / st.sd) >= 1.5
    """,
)
def llm_quality_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source outlier documents by token-count z-score (|z| ≥ 1.5):
    the 'weird length for its source' gate that catches truncated or
    concatenated records before they skew training mixes. Source
    stats are a |sources|-row broadcast back onto the doc stream."""
    from etl_framework_spark.catalog import table as _table

    d = _table(spark, sf_dir, "documents")
    q = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("double").alias("n_tok"),
    )
    st = q.groupBy("source").agg(
        F.avg("n_tok").alias("mu"), F.stddev_samp("n_tok").alias("sd")
    )
    z = (F.col("n_tok") - F.col("mu")) / F.col("sd")
    return (
        q.join(F.broadcast(st), "source")
        .select(
            "doc_id",
            "source",
            F.round("n_tok", 6).alias("n_tok"),
            F.round(z, 6).alias("z"),
        )
        .filter(F.abs(F.col("z")) >= 1.5)
    )


@query(
    "llm_token_length_hist",
    oracle="""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
                  FROM documents)
    SELECT CAST(length(tok) AS INT) AS tok_len,
           count(*) AS n_tokens,
           CAST(count(DISTINCT tok) AS BIGINT) AS n_types
    FROM toks GROUP BY tok_len
    """,
)
def llm_token_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (tokens and distinct types per length) —
    the standard tokenizer diagnostic: a hump at high lengths means
    concatenation artifacts, a spike at 1 means over-splitting. One
    explode + one hash agg on a tiny key domain."""
    from etl_framework_spark.catalog import table as _table
    from etl_framework_spark.operators.textops import tokens

    d = _table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("tok"))
    return toks.groupBy(F.length("tok").cast("int").alias("tok_len")).agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_types"),
    )


@query(
    "ts_interarrival",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT)
               - lag(CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT))
                 OVER (PARTITION BY event_type
                       ORDER BY date_trunc('second', ts), event_id) AS gap_s
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           round(avg(CAST(gap_s AS DOUBLE)), 6) AS mean_gap_s,
           round(quantile_cont(CAST(gap_s AS DOUBLE), 0.5), 6) AS p50_gap_s,
           round(quantile_cont(CAST(gap_s AS DOUBLE), 0.9), 6) AS p90_gap_s
    FROM seq WHERE gap_s IS NOT NULL
    GROUP BY event_type
    """,
)
def ts_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution per event type (mean/p50/p90
    seconds): the arrival-process profile next to burstiness — p90 »
    p50 means heavy-tailed gaps (batchy sources). Lag runs per type;
    percentiles over the bounded per-type gap sets."""
    from pyspark.sql import Window as W

    from etl_framework_spark.catalog import table as _table

    ev = _table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    w = W.partitionBy("event_type").orderBy("tts", "event_id")
    es = F.unix_timestamp("tts")
    seq = ev.select(
        "event_type", (es - F.lag(es).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    g = F.col("gap_s").cast("double")
    return seq.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.round(F.avg(g), 6).alias("mean_gap_s"),
        F.round(F.expr("percentile(CAST(gap_s AS DOUBLE), 0.5)"), 6).alias(
            "p50_gap_s"
        ),
        F.round(F.expr("percentile(CAST(gap_s AS DOUBLE), 0.9)"), 6).alias(
            "p90_gap_s"
        ),
    )


@query(
    "sales_mom_growth",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             sum(o_totalprice) AS rev,
             count(*) AS n_orders
      FROM orders GROUP BY month),
    g AS (
      SELECT month, rev, n_orders,
             lag(rev) OVER (ORDER BY month) AS prev_rev
      FROM m)
    SELECT month, round(rev, 4) AS revenue, n_orders,
           round((rev - prev_rev) / prev_rev, 6) AS mom_growth
    FROM g
    """,
)
def sales_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly rollup (the only
    fact-sized shuffle) then a lag over |months| rows. First month's
    growth is NULL by construction on both engines."""
    from pyspark.sql import Window as W

    from etl_framework_spark.catalog import table as _table

    o = _table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month")).agg(
        F.sum("o_totalprice").alias("rev"), F.count("*").alias("n_orders")
    )
    w = W.orderBy("month")
    g = m.withColumn("prev_rev", F.lag("rev").over(w))
    return g.select(
        "month",
        F.round("rev", 4).alias("revenue"),
        "n_orders",
        F.round((F.col("rev") - F.col("prev_rev")) / F.col("prev_rev"), 6).alias(
            "mom_growth"
        ),
    )


@query(
    "events_audience_overlap",
    oracle="""
    WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
    sz AS (SELECT event_type, count(*) AS n FROM u GROUP BY event_type),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_both
      FROM u a JOIN u b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY type_a, type_b)
    SELECT i.type_a, i.type_b, i.n_both,
           round(CAST(i.n_both AS DOUBLE)
                 / (sa.n + sb.n - i.n_both), 6) AS jaccard
    FROM inter i
    JOIN sz sa ON sa.event_type = i.type_a
    JOIN sz sb ON sb.event_type = i.type_b
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: Jaccard of the user sets
    for every type pair — the co-engagement matrix behind funnel
    hypotheses. Distinct (type, user) pairs shuffle once on user_id
    for the self-join; everything after is |types|²-bounded."""
    from etl_framework_spark.catalog import table as _table

    ev = _table(spark, sf_dir, "events")
    u = ev.select("event_type", "user_id").distinct()
    sz = u.groupBy("event_type").agg(F.count("*").alias("n"))
    a, b = u.alias("a"), u.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "events_top_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             lead(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id) AS e2,
             lead(event_type, 2) OVER (PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id) AS e3
      FROM events)
    SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
    FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY path
    ORDER BY n DESC, path LIMIT 15
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step behavioral paths across all users (sequence mining's
    workhorse report): two leads per user-ordered stream, concatenate,
    count, tie-broken top-k. The window partitions on user_id; the
    path agg runs on a |types|³-bounded domain."""
    from pyspark.sql import Window as W

    from etl_framework_spark.catalog import table as _table

    ev = _table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    w = W.partitionBy("user_id").orderBy("tts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(15)
    )
