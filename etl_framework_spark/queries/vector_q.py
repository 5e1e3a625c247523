"""Embedding/vector operators over `embeddings` (SURVEY.md §2.11 L3/L7):
brute-force top-k cosine search, LSH-bucketed ANN (the scale path),
embedding near-dup, per-label centroids, L2 norms.

Cosine is computed as a strict left fold in float64 on both engines
(see operators.similarity) so values match bit-for-bit; ranking orders
by the ROUNDED similarity with a vec_id tiebreak so top-k sets are
identical even if a future engine diverges in the last ulp.

Contract keys: ``llm_sim_topk``, ``llm_sim_ann``, ``llm_sim_topk_gemm``,
``llm_dedup_embedding``, ``llm_centroid``, ``llm_embed_norm``,
``llm_sim_sq8``.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import guarded
from etl_framework_spark.operators.similarity import (
    cosine,
    duck_cosine,
    duck_q6,
    fold_dots,
    fold_norms,
    lsh_buckets,
    np_q6,
    random_hyperplanes,
)
from etl_framework_spark.registry import query
from etl_framework_spark.session import prep

TOPK = 10
QUERY_MOD = 10  # vec_id % QUERY_MOD == 0 rows act as the query set
# ~99th pct of within-label cosine in the synthetic embeddings (max ≈ .47):
# high enough to be selective, low enough to return a real pair set.
NEARDUP_TAU = 0.3

# Driver-side cap on the collected query set for the EXACT broadcast
# top-k path (1M × 64-dim float64 ≈ 0.5 GB — comfortably inside a
# normal driver). Larger query sets must shard or go approximate.
_MAX_Q_COLLECT = 1_000_000

_COS_QE = duck_cosine("q.qe", "e.embedding")
_COS_AB = duck_cosine("a.embedding", "b.embedding")


def _collect_queries(emb: DataFrame, query_pred, key: str) -> tuple:
    """(qids, Q) for the rows of ``emb`` matching ``query_pred``: int64
    vec_ids and the float64 (n, dim) embedding matrix, collected under
    _MAX_Q_COLLECT. Past the cap it raises: the exact paths broadcast
    the whole query set, so a larger one must be sharded."""
    q = guarded.collect_capped(
        emb.filter(query_pred).select("vec_id", "embedding"), _MAX_Q_COLLECT
    )
    if q is None:
        raise ValueError(
            f"{key}: query set exceeds _MAX_Q_COLLECT={_MAX_Q_COLLECT} "
            "rows; shard the query set (one corpus pass per shard) or use "
            "llm_sim_ann/llm_sim_ivf."
        )
    qids = q.column("vec_id").to_numpy().astype(np.int64)
    return qids, guarded.as_matrix(q.column("embedding"))


# --------------------------------------------------------------------------
# L3 — brute-force top-k cosine similarity search
# --------------------------------------------------------------------------
def _local_topk_frame(bqids, vids, cq, k):
    """Vectorized local top-k for the Arrow kernels: emit, per query
    column, every batch row whose (already quantized) similarity is >=
    the column's k-th largest — a provable superset of this batch's
    global-top-k contributors (if k rows in the batch score strictly
    higher than row r, those k also beat r globally; otherwise r
    clears the threshold), so the downstream global window's
    (cos desc, vid) ranking stays exact. Ties at the threshold emit a
    few extra rows instead of running a per-query Python lexsort over
    the whole batch — the r8 fixed-Q probe measured the old per-
    (query, batch) loop super-linear in Python overhead."""
    eq = vids[:, None] == bqids[None, :]
    cqm = np.where(eq, -np.inf, cq)
    kth = min(k - 1, cqm.shape[0] - 1)
    thr = -np.partition(-cqm, kth, axis=0)[kth, :]
    mask = (cqm >= thr[None, :]) & np.isfinite(cqm)
    ridx, cidx = np.nonzero(mask)
    return pd.DataFrame(
        {"qid": bqids[cidx], "vid": vids[ridx], "cos_sim": cqm[ridx, cidx]}
    )


def _keep_topk(cand: DataFrame, k: int) -> DataFrame:
    """The global merge: the k best (cos_sim desc, vid) rows per qid."""
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vid"))
    return cand.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def _scan_topk(emb: DataFrame, qids, payload, score, k: int) -> DataFrame:
    """Top-k per query in one corpus scan. ``qids`` and ``payload`` are
    broadcast; each Arrow batch is scored in row chunks by
    ``score(V, payload)`` into a quantized (rows × queries) slab, each
    chunk emits its local top-k per query, and ``_keep_topk`` merges
    the k·chunks survivors.

    Row chunks keep the slab cache-resident: un-chunked, the 64
    per-dimension passes each stream a slab of batch_rows·|Q| doubles
    through DRAM and the measured per-query cost went super-linear
    right where the slab outgrew cache (r8 fixed-Q probe). Chunking
    rows changes no per-element accumulation order — bits are
    identical."""
    b = emb.sparkSession.sparkContext.broadcast((qids, payload))

    def local_topk(batches):
        bqids, bpayload = b.value
        chunk = max(1, (4 << 20) // max(len(bqids), 1) // 8)
        for pdf in batches:
            V = guarded.as_matrix(pdf["embedding"])
            vids = pdf["vec_id"].to_numpy()
            for lo in range(0, len(V), chunk):
                cq = score(V[lo : lo + chunk], bpayload)
                yield _local_topk_frame(bqids, vids[lo : lo + chunk], cq, k)

    cand = emb.select("vec_id", "embedding").mapInPandas(
        local_topk, schema="qid long, vid long, cos_sim double"
    )
    return _keep_topk(cand, k)


def _fold_cosines(V, payload):
    """6-dp strict-fold cosines of ``V``'s rows against the queries."""
    Q, qn = payload
    return np_q6(fold_dots(V, Q) / (qn[None, :] * fold_norms(V)[:, None]))


def _gemm_cosines(V, Q):
    """6-dp BLAS cosines of ``V``'s rows against the unit-norm queries."""
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    return np.round(V @ Q.T, 6)


@query(
    "llm_sim_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id % {QUERY_MOD} = 0),
    pairs AS (SELECT q.qid, e.vec_id AS vid,
                     {duck_q6(_COS_QE)} AS cos_sim
              FROM q, embeddings e WHERE e.vec_id <> q.qid)
    SELECT qid, vid, cos_sim, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, vid) AS rnk
      FROM pairs)
    WHERE rnk <= {TOPK}
    """,
)
def llm_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_topk(spark, sf_dir)


def exact_topk(
    spark: SparkSession, sf_dir: str, query_pred=None
) -> DataFrame:
    """Exact top-k cosine search (L3 baseline): broadcast the query
    set and stream the corpus ONCE through ``_scan_topk``, scoring each
    batch with the numpy folds of operators.similarity, so every
    cosine is bit-identical to the DuckDB oracle. Replaced the
    per-pair JVM fold (3.4s → ~0.6s at sf0.1, same bits).

    Driver-memory bound: the query SET (not the corpus) is collect()ed
    to the driver and broadcast, so this exact path holds only while
    |queries|·dim·8B fits driver memory — _MAX_Q_COLLECT guards that
    and fails loudly past it. At 100 TB the corpus side still streams
    (never collected); for query sets beyond the cap, shard the query
    set and run one corpus pass per shard, or switch to the bucketed
    approximate paths (llm_sim_ann / llm_sim_ivf) which never
    centralize the queries.

    ``query_pred`` defaults to the contract query set (vec_id %
    QUERY_MOD == 0); the fixed-Q scale probe passes a pinned predicate
    so per-query marginal cost can be measured across corpus scales."""
    prep(spark)
    emb = table(spark, sf_dir, "embeddings")
    if query_pred is None:
        query_pred = F.col("vec_id") % QUERY_MOD == 0
    qids, Q = _collect_queries(emb, query_pred, "llm_sim_topk exact path")
    return _scan_topk(emb, qids, (Q, fold_norms(Q)), _fold_cosines, TOPK)


# --------------------------------------------------------------------------
# L3b — LSH-bucketed ANN (the 100 TB path; approximate by design)
# --------------------------------------------------------------------------
@query("llm_sim_ann")  # rows-only: ANN recall is probabilistic, no SQL oracle
def llm_sim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_topk(spark, sf_dir)


def ann_topk(
    spark: SparkSession, sf_dir: str, query_pred=None
) -> DataFrame:
    """Sign-LSH ANN (L3 scale path): deterministic hyperplanes give a
    2^P-bucket code; candidates come from the query's own bucket plus
    its P Hamming-1 neighbors (multiprobe), so the per-query join cost
    is (P+1)·N/2^P instead of n·m.

    r8 (VERDICT r7 item 1): P now scales with the corpus via
    operators.similarity.ann_params — P ≈ log2(N)/2, so buckets ≈
    sqrt(N) and per-query candidate work is ~(P+1)·sqrt(N),
    SUB-LINEAR in N (the fixed-Q scale probe measures it). Multiprobe
    keeps recall up as buckets multiply: for sign-LSH with
    bit-agreement p, recall over Hamming ≤ 1 is p^P + P·p^(P-1)(1-p),
    which stays a growing multiple of the scanned fraction as P rises.
    Recall vs the exact baseline is asserted in unit tests at two
    corpus scales; sizing the planes takes one bounded count() at
    build time.

    ``query_pred`` defaults to the contract query set; the fixed-Q
    scale probe pins it."""
    prep(spark)
    emb = table(spark, sf_dir, "embeddings")
    if query_pred is None:
        query_pred = F.col("vec_id") % QUERY_MOD == 0
    from etl_framework_spark.operators.similarity import ann_params

    n_planes, _ = ann_params(emb.count())
    planes = random_hyperplanes(n_planes, 64, seed=42)
    coded = emb.select("vec_id", "embedding", lsh_buckets(F.col("embedding"), planes).alias("bkt"))
    q = coded.filter(query_pred).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), F.col("bkt").alias("qbkt")
    )
    # multiprobe: own bucket + every Hamming-1 neighbor (distinct ids,
    # so no candidate dedup pass is needed)
    probe_codes = F.array(
        F.col("qbkt"),
        *[F.col("qbkt").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
    )
    probes = q.select("qid", "qe", F.explode(probe_codes).alias("pbkt"))
    cand = coded.join(
        F.broadcast(probes),
        (F.col("bkt") == F.col("pbkt")) & (F.col("vec_id") != F.col("qid")),
    )
    cos = F.round(cosine(F.col("qe"), F.col("embedding")), 6)
    return _keep_topk(
        cand.select("qid", F.col("vec_id").alias("vid"), cos.alias("cos_sim")),
        TOPK,
    )


# --------------------------------------------------------------------------
# L3c — GEMM fast path: Arrow-batched numpy matmul
# --------------------------------------------------------------------------
@query("llm_sim_topk_gemm")  # rows-only: BLAS sum order ≠ strict fold bits
def llm_sim_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gemm_topk(spark, sf_dir)


def gemm_topk(
    spark: SparkSession, sf_dir: str, query_pred=None
) -> DataFrame:
    """Vectorized top-k cosine (L3 fast path): the query matrix is a
    broadcast variable; each Arrow batch does ONE normalized matmul
    (V·Qᵀ) and emits only its local top-k per query; a global window
    merges the k·partitions survivors. Same answer as llm_sim_topk to
    float tolerance (unit-tested) — BLAS accumulation order differs
    from the strict fold, so this key is rows-only while the fold
    version carries the exact oracle."""
    prep(spark)
    emb = table(spark, sf_dir, "embeddings")
    if query_pred is None:
        query_pred = F.col("vec_id") % QUERY_MOD == 0
    qids, Q = _collect_queries(emb, query_pred, "llm_sim_topk_gemm")
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    return _scan_topk(emb, qids, Q, _gemm_cosines, TOPK)


# --------------------------------------------------------------------------
# L2d — embedding-cosine near-duplicate pairs (label-blocked)
# --------------------------------------------------------------------------
@query(
    "llm_dedup_embedding",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
           {duck_q6(_COS_AB)} AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {duck_q6(_COS_AB)} >= {NEARDUP_TAU}
    """,
)
def llm_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup (L2): cosine ≥ τ within label blocks —
    blocking bounds the candidate pairs exactly like LSH bands.
    Executed via operators.similarity.blocked_cosine_pairs, one
    applyInPandas task per label block (3.6 s → 0.6 s at sf0.1 vs the
    per-pair JVM fold self-join, same rows). Labels too
    hot for one task belong in the LSH/IVF paths (llm_sim_ann /
    llm_sim_ivf) — blocking is the distribution unit either way."""
    from etl_framework_spark.operators.similarity import blocked_cosine_pairs

    emb = table(spark, sf_dir, "embeddings").select(
        "label", "vec_id", "embedding"
    )
    return blocked_cosine_pairs(emb, "label", NEARDUP_TAU).select(
        "id_a", "id_b", "label", "cos_sim"
    )


# --------------------------------------------------------------------------
# L7 — per-label, per-dimension centroids
# --------------------------------------------------------------------------
@query(
    "llm_centroid",
    oracle="""
    WITH ex AS (SELECT label,
                       unnest(generate_series(1, len(embedding))) - 1 AS dim,
                       CAST(unnest(embedding) AS DOUBLE) AS val
                FROM embeddings)
    SELECT label, CAST(dim AS INT) AS dim,
           round(avg(val), 6) AS centroid,
           count(*) AS n_vecs
    FROM ex GROUP BY label, dim
    """,
)
def llm_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (L7): posexplode to (label, dim, val), then
    an ordinary A1 hash agg — 640 groups regardless of corpus size."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "val"))
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid"),
            F.count("*").alias("n_vecs"),
        )
        .select("label", F.col("dim").cast("int").alias("dim"), "centroid", "n_vecs")
    )


# --------------------------------------------------------------------------
# L7b — L2 norms / normalization check
# --------------------------------------------------------------------------
@query(
    "llm_embed_norm",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)), 6)
             AS l2_norm,
           CAST(len(embedding) AS INT) AS dim
    FROM embeddings
    """,
)
def llm_embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm (L7): strict-fold sum of squares, rounded."""
    emb = table(spark, sf_dir, "embeddings")
    from etl_framework_spark.operators.similarity import l2_norm

    return emb.select(
        "vec_id",
        "label",
        F.round(l2_norm(F.col("embedding")), 6).alias("l2_norm"),
        F.size("embedding").alias("dim"),
    )


# --------------------------------------------------------------------------
# L3d — scalar-quantized (int8) scan with exact rescoring
# --------------------------------------------------------------------------
@query("llm_sim_sq8")  # rows-only: candidate stage is approximate by design
def llm_sim_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sq8_topk(spark, sf_dir)


def sq8_topk(
    spark: SparkSession, sf_dir: str, query_pred=None
) -> DataFrame:
    """Scalar-quantized top-k (L3 memory-bandwidth path): the 100 TB
    trick that attacks the SCAN, not the candidate count. Embeddings
    are quantized to int8 per dimension (corpus min/max scaling — one
    bounded agg), so the first pass streams 8× fewer bytes than the
    float64 exact scan and scores candidates with INTEGER dot products
    (associativity-safe: every fold order gives the same integer, so
    this stage is deterministic without the strict-fold machinery).
    Each query keeps the top 3k approximate candidates; only those are
    rescored with the exact strict-fold cosine and re-ranked, so the
    output ordering uses true cosines. Recall vs the exact baseline is
    asserted in unit tests — int8 quantization on 64-dim vectors
    separates true neighbors (cos≈0.45) from noise comfortably.

    At 100 TB: the int8 code table is 1/8 the corpus bytes and the
    rescore touches only |Q|·3k vectors — the pattern FAISS calls
    SQ8 + refine. Per-query cost stays Θ(N) (it is a scan accelerator,
    not a pruning index — use llm_sim_ann/llm_sim_ivf for sub-linear
    candidates); the constant drops by the bandwidth ratio.

    Builds with bounded Spark jobs (per-dim min/max agg, query
    collect) like the other trained paths. ``query_pred`` as in
    exact_topk."""
    prep(spark)
    emb = table(spark, sf_dir, "embeddings")
    if query_pred is None:
        query_pred = F.col("vec_id") % QUERY_MOD == 0
    # per-dimension min/max (the SQ8 "training"): 64 bounded values
    mm = (
        emb.select(F.posexplode("embedding").alias("dim", "val"))
        .groupBy("dim")
        .agg(
            F.min(F.col("val").cast("double")).alias("lo"),
            F.max(F.col("val").cast("double")).alias("hi"),
        )
        .collect()
    )
    dim = len(mm)
    lo = np.zeros(dim)
    hi = np.zeros(dim)
    for r in mm:
        lo[int(r.dim)] = float(r.lo)
        hi[int(r.dim)] = float(r.hi)
    scale = np.maximum(hi - lo, 1e-12)

    def _codes(M: "np.ndarray") -> "np.ndarray":
        # deterministic affine int8 code: floor to [-128, 127]
        return np.clip(
            np.floor((M - lo[None, :]) / scale[None, :] * 255.0) - 128,
            -128,
            127,
        )

    qids, Q = _collect_queries(emb, query_pred, "llm_sim_sq8")
    Qc = _codes(Q)
    b = spark.sparkContext.broadcast((qids, Qc))
    cand_k = 3 * TOPK

    def local_approx(batches):
        bqids, bQc = b.value
        for pdf in batches:
            Vc = _codes(guarded.as_matrix(pdf["embedding"]))
            # integer-valued dot products, exact in float64 (|S| < 2^21)
            S = Vc @ bQc.T
            yield _local_topk_frame(bqids, pdf["vec_id"].to_numpy(), S, cand_k)

    cand = emb.select("vec_id", "embedding").mapInPandas(
        local_approx, schema="qid long, vid long, cos_sim double"
    ).select("qid", "vid")
    # exact rescore of the surviving candidates only
    qe = emb.filter(query_pred).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    ve = emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("ve"))
    cos = F.round(cosine(F.col("qe"), F.col("ve")), 6)
    return _keep_topk(
        cand.join(F.broadcast(qe), "qid")
        .join(ve, "vid")
        .select("qid", "vid", cos.alias("cos_sim")),
        TOPK,
    )
