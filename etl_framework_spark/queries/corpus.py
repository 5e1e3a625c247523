"""Corpus-level text-pipeline operators (SURVEY.md §2.11 L4 widening):
vocabulary extraction, bigram statistics, TF-IDF scoring — the
token-level building blocks of a training-data pipeline at 100 TB
(explode → hash agg → top-k; every stage partial-aggregates
map-side, so hot tokens like stopwords never skew a reducer).

Contract keys: ``llm_vocab``, ``llm_bigrams``, ``llm_tfidf``,
``llm_sim_ivf``, ``llm_pmi``, ``llm_length_hist``,
``llm_inverted_index``, ``llm_heavy_hitters``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import guarded
from etl_framework_spark.operators.heavyhitters import heavy_hitters
from etl_framework_spark.operators.textops import shingles, tokens
from etl_framework_spark.registry import query
from etl_framework_spark.session import prep
from etl_framework_spark.cacheutil import persist_tracked

VOCAB_TOP = 100
BIGRAM_TOP = 50
TFIDF_DOCS = 50  # doc_id bound for the per-doc TF-IDF output
NPROBE = 3  # IVF cells probed per query (code + docstring + recall test)


@query(
    "llm_vocab",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
    SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS df
    FROM toks GROUP BY tok
    ORDER BY n DESC, tok LIMIT {VOCAB_TOP}
    """,
)
def llm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary (L4): token frequency + document frequency,
    top-{100} under a total order. Count-style aggs partial-aggregate,
    so the 'the'-token hot key reduces map-side."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(VOCAB_TOP)
    )


@query(
    "llm_bigrams",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    bi AS (SELECT doc_id,
                  unnest(list_transform(generate_series(1, greatest(len(l) - 1, 1)),
                         i -> concat_ws(' ', l[i], l[i+1]))) AS bg
           FROM t)
    SELECT bg, count(*) AS n
    FROM bi GROUP BY bg
    ORDER BY n DESC, bg LIMIT {BIGRAM_TOP}
    """,
)
def llm_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram statistics (L4): 2-gram shingles → frequency top-k."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("l"))
    bi = t.select("doc_id", F.explode(shingles("l", 2)).alias("bg"))
    return (
        bi.groupBy("bg")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "bg")
        .limit(BIGRAM_TOP)
    )


@query(
    "llm_tfidf",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents WHERE doc_id < {TFIDF_DOCS}),
    ntok AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
    tf AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
    alltoks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
                FROM documents),
    dfreq AS (SELECT tok, count(*) AS df FROM alltoks GROUP BY tok),
    corpus AS (SELECT count(*) AS nn FROM documents)
    SELECT tf.doc_id, tf.tok,
           round((CAST(tf.c AS DOUBLE) / ntok.n)
                 * ln(CAST(corpus.nn AS DOUBLE) / dfreq.df), 6) AS tfidf
    FROM tf
    JOIN ntok ON ntok.doc_id = tf.doc_id
    JOIN dfreq ON dfreq.tok = tf.tok
    CROSS JOIN corpus
    """,
)
def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (L4): tf = in-doc frequency ratio, idf = ln(N/df) with
    df computed over the FULL corpus; scored for a bounded doc subset.
    At 100 TB: df/N are corpus-wide partial-agg statistics broadcast
    back against the per-doc term table — exactly this plan."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.filter(F.col("doc_id") < TFIDF_DOCS).select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    ntok = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    alltoks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    dfreq = alltoks.groupBy("tok").agg(F.count("*").alias("df"))
    corpus_n = docs.agg(F.count("*").alias("nn"))
    return (
        tf.join(ntok, "doc_id")
        .join(dfreq, "tok")
        .crossJoin(F.broadcast(corpus_n))
        .select(
            "doc_id",
            "tok",
            F.round(
                (F.col("c").cast("double") / F.col("n"))
                * F.log(F.col("nn").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )


@query("llm_sim_ivf")  # rows-only: IVF is approximate by design
def llm_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(spark, sf_dir)


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    query_pred=None,
    _return_candidates: bool = False,
) -> DataFrame:
    """IVF-style ANN (L3 scale path, complement to sign-LSH): coarse
    quantizer = (label x projection-quantile-bucket) cells; queries
    probe the NPROBE (=3) cells whose centroids are most similar.
    Join cost is cell-local; recall asserted vs exact in unit tests
    (tests/test_scale_recall.py imports the same constant for its
    scanned-fraction chance model).

    r7: cell count scales ~sqrt(N) (standard IVF sizing) with
    QUANTILE cuts on a fixed deterministic projection -- random
    high-dim projections concentrate ~N(0, 1/dim), so equal-width
    bins put everything in the middle bin (measured: probe exp 1.23).

    r8 restructure (VERDICT r7 item 1): assignment IS the quantizer
    cell. The old shape re-scored every vector against every centroid
    (a crossJoin doing O(N*cells) = O(N^1.5) work -- the scale probe
    measured exponent 1.22 end-to-end, dominated by that stage). Now:
      - build: one corpus pass for projection + quantile cuts (the
        projected frame is cached so the two sizing actions share one
        materialization -- ADVICE r7), one pass for cell centroids.
        O(N*dim) total, linear.
      - probe: each query scores only the sqrt(N)-sized centroid set
        (Q*sqrt(N) work) and joins candidates from its NPROBE best
        cells plus its own assignment cell (r9 — queries are corpus
        members; see inline comment), ≤ (NPROBE+1)*N/cells ~
        (NPROBE+1)*sqrt(N)*10/labels per query.
    The fixed-Q scale probe measures the per-query marginal cost
    directly (tools/scale_probe.py --fixed-queries); the centroid
    model stays broadcastable (~sqrt(N)*dim doubles; 10^5 cells x 64
    dims at 10^10 vectors).

    NOTE: building this DataFrame executes bounded Spark jobs (count,
    quantile cuts, centroid collect) -- the IVF training step; plan
    capture and per-key build timings include them (SCALE.md).

    ``query_pred`` defaults to the registered contract's query set
    (vec_id % 10 == 0); the scale probe passes a pinned predicate so
    per-query cost can be measured at a fixed Q across corpus scales.
    """
    prep(spark)
    from etl_framework_spark.operators.similarity import dot_fold, l2_norm

    emb = table(spark, sf_dir, "embeddings")
    if query_pred is None:
        query_pred = F.col("vec_id") % 10 == 0
    proj = F.expr(
        "aggregate(zip_with(embedding,"
        " transform(sequence(1, size(embedding)), i -> cos(i)),"
        " (x, d) -> x * d), cast(0.0 as double), (acc, v) -> acc + v)"
    ) / (l2_norm(F.col("embedding")) + F.lit(1e-12))
    embp = emb.withColumn("proj", proj).transform(persist_tracked)
    try:
        n = embp.count()  # sizes the quantizer; materializes the cache
        n_labels = 10
        buckets = max(1, int(n ** 0.5) // n_labels)
        if buckets > 1:
            qs_cut = [i / buckets for i in range(1, buckets)]
            cuts = embp.agg(
                F.percentile_approx("proj", qs_cut, 10_000).alias("c")
            ).collect()[0]["c"]  # bounded: buckets-1 doubles
            cut_arr = F.array(*[F.lit(float(c)) for c in cuts])
            pb = F.size(F.filter(cut_arr, lambda c: c <= F.col("proj")))
        else:
            pb = F.lit(0)
    finally:
        # the returned plan recomputes proj in ONE pass; holding the
        # cache would leak blocks across keys
        embp.unpersist(False)
    assign = embp.withColumn(
        "cell", (F.col("label").cast("int") * buckets + pb).cast("int")
    ).select("vec_id", "embedding", "cell")
    cent_rows = (
        assign.select(
            "cell", F.posexplode("embedding").alias("dim", "val")
        )
        .groupBy("cell", "dim")
        .agg(F.avg(F.col("val").cast("double")).alias("c"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("sc"))
        .select("cell", F.col("sc.c").alias("centroid"))
        .collect()
    )  # bounded: ~sqrt(N) cells x dim floats -- the trained quantizer
    cents = guarded.local_frame(
        spark,
        [
            (int(r.cell), [float(x) for x in r.centroid])
            for r in cent_rows
        ],
        "cell int, centroid array<double>",
    )
    # queries are corpus members, so their assignment cell is known —
    # probe it ALWAYS, plus the NPROBE best-centroid cells (r9: in a
    # near-uniform corpus, centroid ranking alone missed the own cell
    # for ~half the queries, costing planted-near-duplicate recall
    # 0.56 → ≥0.9; ≤ +1 cell per query, same complexity class)
    q = assign.filter(query_pred).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("cell").alias("own_cell"),
    )
    csim = (
        dot_fold(F.col("qe"), F.col("centroid"))
        / (l2_norm(F.col("qe")) * l2_norm(F.col("centroid")))
    ).alias("csim")
    w_cell = W.partitionBy("qid").orderBy(F.col("csim").desc(), F.col("cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("qid", "qe", "own_cell", "cell", csim)
        .withColumn("crnk", F.row_number().over(w_cell))
        .filter((F.col("crnk") <= NPROBE) | (F.col("cell") == F.col("own_cell")))
        .select("qid", "qe", "cell")
    )
    cand = assign.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("qid")
    )
    if _return_candidates:
        # test/diagnostic hook: the pre-ranking candidate set, so the
        # recall tests can compute the MEASURED scanned fraction (its
        # chance baseline) instead of assuming NPROBE+1 full cells
        return cand.select("qid", F.col("vec_id").alias("vid"))
    cos = F.round(
        dot_fold(F.col("qe"), F.col("embedding"))
        / (l2_norm(F.col("qe")) * l2_norm(F.col("embedding"))),
        6,
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vid"))
    return (
        cand.select("qid", F.col("vec_id").alias("vid"), cos.alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
    )


@query(
    "llm_pmi",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    uni AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    n_uni AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uni),
    t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    bi AS (SELECT unnest(list_transform(generate_series(1, greatest(len(l) - 1, 1)),
                  i -> concat_ws(' ', l[i], l[i+1]))) AS bg
           FROM t),
    bic AS (SELECT bg, count(*) AS cb FROM bi GROUP BY bg),
    n_bi AS (SELECT CAST(sum(cb) AS DOUBLE) AS nb FROM bic)
    SELECT bg,
           cb,
           round(ln((cb / n_bi.nb)
                    / ((ua.c / n_uni.n) * (ub.c / n_uni.n))), 6) AS pmi
    FROM bic
    JOIN uni ua ON ua.tok = split_part(bg, ' ', 1)
    JOIN uni ub ON ub.tok = split_part(bg, ' ', 2)
    CROSS JOIN n_uni CROSS JOIN n_bi
    WHERE cb >= 20
    """,
)
def llm_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of bigrams (L4): collocation
    scoring — ln(P(ab) / (P(a)·P(b))) with unigram/bigram counts as
    broadcast-sized statistics, bounded to bigrams seen ≥ 20 times."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count("*").alias("c"))
    n_uni = uni.agg(F.sum("c").cast("double").alias("n"))
    t = docs.select(tokens("text").alias("l"))
    bi = t.select(F.explode(shingles("l", 2)).alias("bg"))
    bic = bi.groupBy("bg").agg(F.count("*").alias("cb")).filter(F.col("cb") >= 20)
    n_bi = bi.agg(F.count("*").cast("double").alias("nb"))
    ua = uni.select(F.col("tok").alias("t_a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("tok").alias("t_b"), F.col("c").alias("cb_u"))
    return (
        bic.withColumn("t_a", F.expr("split_part(bg, ' ', 1)"))
        .withColumn("t_b", F.expr("split_part(bg, ' ', 2)"))
        .join(F.broadcast(ua), "t_a")
        .join(F.broadcast(ub), "t_b")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "bg",
            "cb",
            F.round(
                F.log(
                    (F.col("cb") / F.col("nb"))
                    / ((F.col("ca") / F.col("n")) * (F.col("cb_u") / F.col("n")))
                ),
                6,
            ).alias("pmi"),
        )
    )


@query(
    "llm_length_hist",
    oracle="""
    SELECT CAST(floor((n_chars - 0) / 50.0) AS INT) AS bucket,
           CAST(floor((n_chars - 0) / 50.0) AS INT) * 50 AS bucket_lo,
           count(*) AS n_docs,
           round(avg(n_chars), 6) AS avg_chars
    FROM documents GROUP BY 1, 2
    """,
)
def llm_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (L4/quality): fixed-width 50-char
    buckets — the data-quality profile every corpus pipeline starts
    with; one partial-aggregating hash shuffle."""
    docs = table(spark, sf_dir, "documents")
    bucket = F.floor((F.col("n_chars") - 0) / 50.0).cast("int")
    return docs.groupBy(bucket.alias("bucket")).agg(
        (F.first(bucket) * 50).alias("bucket_lo"),
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


IDX_DOCS = 500  # doc universe bound for the posting-list output


@query(
    "llm_inverted_index",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents WHERE doc_id < {IDX_DOCS})
    SELECT tok,
           CAST(count(*) AS BIGINT) AS tf,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
           list_sort(list(DISTINCT doc_id)) AS postings
    FROM toks GROUP BY tok
    """,
)
def llm_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (L4): token → sorted posting list of doc_ids,
    with term and document frequencies, over a bounded doc universe.
    At 100 TB the same plan holds with postings chunked per shard:
    groupBy(tok) is one partial-aggregating shuffle, and collect_set
    keeps per-token state bounded by df, not corpus size."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < IDX_DOCS)
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    return toks.groupBy("tok").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"),
        F.sort_array(F.collect_set("doc_id")).alias("postings"),
    )


HH_FRAC = 0.03  # heavy-hitter threshold (fraction of all tokens)


@query(
    "llm_heavy_hitters",
    oracle=f"""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    tot AS (SELECT count(*) AS n FROM toks)
    SELECT tok, count(*) AS freq
    FROM toks, tot
    GROUP BY tok, tot.n
    HAVING count(*) >= {HH_FRAC} * tot.n
    """,
)
def llm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (L4): tokens with frequency ≥ {3}% of the
    corpus, via Misra-Gries candidate generation + exact recount
    (operators/heavyhitters.py). Pass 1 is shuffle-free bounded-state
    mapInPandas; pass 2 recounts only broadcast-semi-joined
    candidates — so the sketch plan still admits this exact SQL
    oracle."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    return heavy_hitters(toks, frac=HH_FRAC)
