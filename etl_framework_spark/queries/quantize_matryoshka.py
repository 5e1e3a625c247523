"""Contract keys: ``llm_dedup_threshold_sweep``, ``vec_quantize_int8``,
``vec_matryoshka``, ``fn_format``, ``llm_ngram_coverage``.

Dedup-threshold tuning, curriculum ordering,
embedding quantization, matryoshka-truncation evaluation, formatted
output, and n-gram coverage.

Scale notes:

- ``llm_dedup_threshold_sweep``: one pass over the (lang, source)-
  blocked exact-Jaccard pair set (already bounded by blocking — the
  same pair set llm_dedup_jaccard verifies): pairs land in
  floor(jac·20) buckets, the per-doc max bucket covers distinct
  drops, and the full τ-curve is two suffix sums over the 19-row
  grid (never a pair×grid multiplication). The production
  knob-tuning report: pick τ by looking at keep-rate elasticity, not
  by folklore.
- ``vec_quantize_int8``: per-vector int8 quantization is pure row
  arithmetic (no shuffle); the per-label error report folds each
  label's rows in vec_id order (strict fold ↔ DuckDB list_reduce) —
  no unordered float sums.
- ``vec_matryoshka``: truncated-prefix (16 of 64 dims) ranking vs
  the full ranking over the blocked query×corpus pair set; cosines
  are strict folds quantized to 6 dp before ranking with a vec_id
  tiebreak, so ranks are engine-stable; the final report reduces to
  one row of integer-derived statistics.
- ``fn_format``: formatted-output family (format_string ↔ printf) —
  per-row JVM string kernels, no shuffle; float operands are halves
  (x/2.0) so no rounding-tie divergence between Java Formatter and
  fmtlib.
- ``llm_ngram_coverage``: train/test n-gram type coverage for
  n=1,2,3 — distinct-shingle reductions + one equi-join per n;
  everything after the distinct is |types| rows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import guarded
from etl_framework_spark.operators.similarity import (
    duck_cosine,
    fold_dots,
    fold_norms,
    np_q6,
)
from etl_framework_spark.operators.textops import tokens
from etl_framework_spark.operators.rounding import q6
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

# Knuth multiplicative-hash split constants (as training.train_split).
_K = 2654435761
_MOD = 4294967296
_TRAIN_LT = 3865470566

# Threshold grid for the dedup sweep: 0.05 .. 0.95 step 0.05.
_SWEEP_STEPS = 19

_MATRYOSHKA_DIMS = 16
_MK = 10  # top-k compared between truncated and full rankings
_QUERY_MOD = 10  # vec_id % _QUERY_MOD == 0 rows act as queries


# --------------------------------------------------------------------------
# Dedup tuning — keep-rate vs Jaccard threshold sweep
# --------------------------------------------------------------------------
@query(
    "llm_dedup_threshold_sweep",
    oracle=f"""
    WITH toksets AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS ts
      FROM documents
    ),
    pairs AS (
      SELECT b.doc_id AS id_b,
             CAST(least(floor((CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
               / (len(a.ts) + len(b.ts)
                  - len(list_intersect(a.ts, b.ts)))) * 20.0),
               {_SWEEP_STEPS}) AS BIGINT) AS bkt
      FROM toksets a
      JOIN toksets b ON a.lang = b.lang AND a.source = b.source
                    AND a.doc_id < b.doc_id
    ),
    hp AS (SELECT bkt, CAST(count(*) AS BIGINT) AS c FROM pairs
           GROUP BY bkt),
    hd AS (SELECT mb AS bkt, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT id_b, max(bkt) AS mb FROM pairs GROUP BY id_b)
           GROUP BY mb),
    grid AS (SELECT unnest(generate_series(1, {_SWEEP_STEPS})) AS i),
    joined AS (
      SELECT g.i, coalesce(hp.c, 0) AS cp, coalesce(hd.c, 0) AS cd
      FROM grid g
      LEFT JOIN hp ON hp.bkt = g.i
      LEFT JOIN hd ON hd.bkt = g.i
    ),
    suff AS (
      SELECT i,
             sum(cp) OVER (ORDER BY i DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS n_pairs,
             sum(cd) OVER (ORDER BY i DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS n_dropped
      FROM joined
    ),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
    SELECT round(i / 20.0, 2) AS tau,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_dropped AS BIGINT) AS n_dropped,
           round(1.0 - n_dropped / tot.n_docs, 6) AS keep_rate
    FROM suff CROSS JOIN tot
    """,
)
def llm_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold tuning report: for each Jaccard τ on a
    0.05-step grid, how many blocked candidate pairs clear it and
    what corpus keep-rate results (drop policy: the higher doc_id of
    each clearing pair). ONE pass over the SAME blocked pair set
    llm_dedup_jaccard verifies: each pair lands in its
    floor(jac·20) threshold bucket, per-doc max buckets cover the
    distinct-drop count, and the whole τ-curve is two suffix sums
    over the 19-row grid — no pair×grid row multiplication (naive
    grid join 3.9s at sf0.1 → 2.9s; the remaining cost is the exact
    set intersections themselves, shared with llm_dedup_jaccard). Bucket
    arithmetic is identical IEEE ops on both engines, so boundary
    pairs (jaccard is a small-integer ratio) bucket identically."""
    from etl_framework_spark.operators.dedup import blocked_jaccard_pairs

    docs = table(spark, sf_dir, "documents")
    toksets = docs.select(
        "doc_id", "lang", "source", F.array_distinct(tokens("text")).alias("ts")
    )
    # token-explode pair builder (operators/dedup.blocked_jaccard_pairs):
    # zero-overlap pairs never materialize, which is exactly the bucket-0
    # population the suffix sums (starting at i=1) never read.
    # persist: the pair-count and distinct-drop histograms both consume
    # this frame — unpersisted, the exact set-intersection pair builder
    # ran twice (r10). Two small columns per qualifying pair;
    # MEMORY_AND_DISK spills rather than OOMs at scale.
    pairs = blocked_jaccard_pairs(toksets).select(
        "id_b",
        F.least(F.floor(F.col("jac") * 20.0), F.lit(_SWEEP_STEPS))
        .cast("bigint")
        .alias("bkt"),
    ).transform(persist_tracked)
    hp = pairs.groupBy("bkt").agg(F.count("*").cast("bigint").alias("cp"))
    hd = (
        pairs.groupBy("id_b")
        .agg(F.max("bkt").alias("mb"))
        .groupBy(F.col("mb").alias("bkt"))
        .agg(F.count("*").cast("bigint").alias("cd"))
    )
    grid = spark.range(1, _SWEEP_STEPS + 1).select(F.col("id").alias("i"))
    joined = (
        grid.join(F.broadcast(hp), grid.i == hp.bkt, "left")
        .drop("bkt")
        .join(F.broadcast(hd), grid.i == hd.bkt, "left")
        .drop("bkt")
        .select(
            "i",
            F.coalesce("cp", F.lit(0)).alias("cp"),
            F.coalesce("cd", F.lit(0)).alias("cd"),
        )
    )
    wsuf = W.orderBy(F.col("i").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    tot = docs.agg(F.count("*").cast("double").alias("n_docs"))
    return (
        joined.select(
            "i",
            F.sum("cp").over(wsuf).alias("n_pairs"),
            F.sum("cd").over(wsuf).alias("n_dropped"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(F.col("i") / 20.0, 2).alias("tau"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("n_dropped").cast("bigint").alias("n_dropped"),
            F.round(1.0 - F.col("n_dropped") / F.col("n_docs"), 6).alias(
                "keep_rate"
            ),
        )
    )


# --------------------------------------------------------------------------
# Embeddings — int8 quantization error report
# --------------------------------------------------------------------------
@query(
    "vec_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
      FROM embeddings
    ),
    scaled AS (
      SELECT vec_id, label, xd,
             list_max(list_transform(xd, x -> abs(x))) AS scale
      FROM v
    ),
    errs AS (
      SELECT vec_id, label, scale,
             list_transform(xd,
               x -> x - trunc(x * 127.0 / scale + sign(x) * 0.5)
                        * scale / 127.0) AS err
      FROM scaled
    ),
    per AS (
      SELECT vec_id, label,
             floor(sqrt(list_reduce(
                     list_prepend(CAST(0.0 AS DOUBLE),
                                  list_transform(err, e -> e * e)),
                     (a, e) -> a + e) / len(err)) * 1000000 + 0.5) / 1000000
               AS rmse,
             floor(list_max(list_transform(err, e -> abs(e)))
                   * 1000000 + 0.5) / 1000000 AS max_err
      FROM errs
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           floor(list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                                list(rmse ORDER BY vec_id)),
                   (a, e) -> a + e) / count(*) * 1000000 + 0.5) / 1000000
             AS mean_rmse,
           max(max_err) AS worst_abs_err
    FROM per GROUP BY label
    """,
)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (per-vector absmax scaling, round
    half-away-from-zero) with the reconstruction-error report per
    label: mean RMSE and worst absolute error. Quantization and error
    are pure per-row array arithmetic (no shuffle — the compression
    pass a 100 TB vector store runs mapper-side before writing); the
    per-label mean folds rmse values in vec_id order, so every float
    sum is a strict fold with a DuckDB list_reduce twin."""
    emb = table(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scaled = emb.select(
        "vec_id",
        "label",
        xd.alias("xd"),
        F.array_max(F.transform(xd, F.abs)).alias("scale"),
    )
    # trunc(x·127/scale + sign(x)·0.5): Spark has no double-trunc twin of
    # DuckDB's trunc(); cast-to-long truncates toward zero (exact here,
    # |q| <= 127.5), matching trunc() for both signs.
    err = F.transform(
        F.col("xd"),
        lambda x: x
        - (x * 127.0 / F.col("scale") + F.signum(x) * 0.5).cast("long")
        .cast("double")
        * F.col("scale")
        / 127.0,
    )
    errs = scaled.select("vec_id", "label", "scale", err.alias("err"))
    rmse = F.sqrt(
        F.aggregate(
            F.transform(F.col("err"), lambda e: e * e),
            F.lit(0.0),
            lambda a, e: a + e,
        )
        / F.size("err")
    )
    per = errs.select(
        "vec_id",
        "label",
        q6(rmse).alias("rmse"),
        q6(F.array_max(F.transform(F.col("err"), F.abs))).alias("max_err"),
    )
    folded = per.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.array_sort(F.collect_list(F.struct("vec_id", "rmse"))).alias("sv"),
        F.max("max_err").alias("worst_abs_err"),
    )
    mean_rmse = (
        F.aggregate(F.col("sv.rmse"), F.lit(0.0), lambda a, e: a + e)
        / F.col("n_vecs")
    )
    return folded.select(
        "label", "n_vecs", q6(mean_rmse).alias("mean_rmse"), "worst_abs_err"
    )


# --------------------------------------------------------------------------
# Embeddings — matryoshka truncation: prefix-dim ranking vs full ranking
# --------------------------------------------------------------------------
def _matryoshka_oracle() -> str:
    cos_full = duck_cosine("q.qe", "e.embedding")
    cos_trunc = duck_cosine("q.qt", "e.et")
    return f"""
    WITH base AS (
      SELECT vec_id, embedding,
             embedding[1:{_MATRYOSHKA_DIMS}] AS et
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, embedding AS qe, et AS qt FROM base
          WHERE vec_id % {_QUERY_MOD} = 0),
    pairs AS (
      SELECT q.qid, e.vec_id AS vid,
             floor(({cos_full}) * 1000000 + 0.5) / 1000000 AS cf,
             floor(({cos_trunc}) * 1000000 + 0.5) / 1000000 AS ct
      FROM q JOIN base e ON e.vec_id <> q.qid
    ),
    topf AS (
      SELECT qid, vid FROM pairs
      QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cf DESC, vid)
              <= {_MK}
    ),
    topt AS (
      SELECT qid, vid FROM pairs
      QUALIFY row_number() OVER (PARTITION BY qid ORDER BY ct DESC, vid)
              <= {_MK}
    ),
    ov AS (
      SELECT f.qid, count(t.vid) AS n_overlap
      FROM topf f LEFT JOIN topt t ON t.qid = f.qid AND t.vid = f.vid
      GROUP BY f.qid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(n_overlap), 6) AS mean_overlap,
           CAST(min(n_overlap) AS BIGINT) AS min_overlap,
           CAST(max(n_overlap) AS BIGINT) AS max_overlap,
           round(sum(n_overlap) * 1.0 / (count(*) * {_MK}), 6)
             AS recall_at_{_MK}
    FROM ov
    """


@query("vec_matryoshka", oracle=_matryoshka_oracle())
def vec_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation evaluation: how much of the full-64-dim
    top-{_MK} cosine ranking survives when vectors are truncated to
    their first {_MATRYOSHKA_DIMS} dims — the measurement behind
    serving truncated embeddings (MRL). Both cosines come from the
    numpy folds of operators.similarity (bit-identical to the DuckDB
    oracle), quantized to 6 dp and ranked with a vec_id tiebreak; each
    batch emits only its local top-k union for both rankings, and the
    global windows see k·partitions survivors (replaced the per-pair JVM fold: 8.0s →
    ~0.7s at sf0.1, same bits). The final report is one row of
    integer-derived recall/overlap statistics. At 100 TB the pair
    scan blocks by LSH/IVF exactly like llm_sim_topk's scale path —
    the truncated ranking costs 16/64 of the flops, which is the
    point of the technique."""
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings")
    from etl_framework_spark.queries import vector_q

    qids, Q = vector_q._collect_queries(
        emb, F.col("vec_id") % _QUERY_MOD == 0, "vec_matryoshka"
    )
    td = _MATRYOSHKA_DIMS
    b = spark.sparkContext.broadcast(
        (qids, Q, fold_norms(Q), fold_norms(Q[:, :td]))
    )
    k = _MK

    def local_topk(batches):
        bqids, bQ, bqnf, bqnt = b.value
        bQt = bQ[:, :td]
        for pdf in batches:
            V = guarded.as_matrix(pdf["embedding"])
            Vt = V[:, :td]
            vids = pdf["vec_id"].to_numpy()
            qf = np_q6(fold_dots(V, bQ) / (bqnf[None, :] * fold_norms(V)[:, None]))
            qt = np_q6(
                fold_dots(Vt, bQt) / (bqnt[None, :] * fold_norms(Vt)[:, None])
            )
            out = {"qid": [], "vid": [], "cf": [], "ct": []}
            for j, qid in enumerate(bqids):
                mask = vids != qid
                idx = np.nonzero(mask)[0]
                if len(idx) == 0:
                    continue
                keep = set()
                colf, colt = qf[:, j], qt[:, j]
                keep.update(idx[np.lexsort((vids[idx], -colf[idx]))][:k])
                keep.update(idx[np.lexsort((vids[idx], -colt[idx]))][:k])
                ki = sorted(keep)
                out["qid"].extend([qid] * len(ki))
                out["vid"].extend(vids[ki])
                out["cf"].extend(colf[ki])
                out["ct"].extend(colt[ki])
            yield pd.DataFrame(out)

    cand = emb.select("vec_id", "embedding").mapInPandas(
        local_topk, schema="qid long, vid long, cf double, ct double"
    )
    wf = W.partitionBy("qid").orderBy(F.col("cf").desc(), "vid")
    wt = W.partitionBy("qid").orderBy(F.col("ct").desc(), "vid")
    ranked = cand.select(
        "qid",
        "vid",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    topf = ranked.filter(F.col("rf") <= _MK).select("qid", "vid")
    topt = ranked.filter(F.col("rt") <= _MK).select(
        F.col("qid").alias("qid2"), F.col("vid").alias("vid2")
    )
    ov = (
        topf.join(
            topt,
            (F.col("qid") == F.col("qid2")) & (F.col("vid") == F.col("vid2")),
            "left",
        )
        .groupBy("qid")
        .agg(F.count("vid2").alias("n_overlap"))
    )
    return ov.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.round(F.avg("n_overlap"), 6).alias("mean_overlap"),
        F.min("n_overlap").cast("bigint").alias("min_overlap"),
        F.max("n_overlap").cast("bigint").alias("max_overlap"),
        F.round(
            F.sum("n_overlap") / (F.count("*") * F.lit(_MK)).cast("double"), 6
        ).alias(f"recall_at_{_MK}"),
    )


# --------------------------------------------------------------------------
# Formatted output — format_string ↔ printf family
# --------------------------------------------------------------------------
@query(
    "fn_format",
    oracle="""
    SELECT p_partkey,
           printf('%08d', p_partkey) AS fmt_zero,
           printf('%,d', p_partkey * 1009) AS fmt_comma,
           printf('%x', p_partkey) AS fmt_hex,
           printf('%+d', p_size - 25) AS fmt_sign,
           printf('[%-12s]', p_type) AS fmt_left,
           printf('%14s|', p_brand) AS fmt_right,
           printf('%.2f', p_size / 2.0) AS fmt_fixed,
           printf('%s-%03d-%x', p_brand, p_size, p_partkey) AS fmt_multi
    FROM part
    """,
)
def fn_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formatted-output function family: zero-pad, thousands grouping,
    hex, explicit sign, left/right alignment, fixed-point, and
    multi-argument templates — format_string (java.util.Formatter)
    against DuckDB printf (fmtlib), which agree on this conversion
    subset. Float operands are exact halves (p_size/2.0), so no
    rounding-tie divergence. Pure per-row JVM kernels; no shuffle."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.format_string("%08d", "p_partkey").alias("fmt_zero"),
        F.format_string("%,d", F.col("p_partkey") * 1009).alias("fmt_comma"),
        F.format_string("%x", "p_partkey").alias("fmt_hex"),
        F.format_string("%+d", F.col("p_size") - 25).alias("fmt_sign"),
        F.format_string("[%-12s]", "p_type").alias("fmt_left"),
        F.format_string("%14s|", "p_brand").alias("fmt_right"),
        F.format_string("%.2f", F.col("p_size") / 2.0).alias("fmt_fixed"),
        F.format_string(
            "%s-%03d-%x", "p_brand", "p_size", "p_partkey"
        ).alias("fmt_multi"),
    )


# --------------------------------------------------------------------------
# LM — train/test n-gram type coverage (n = 1, 2, 3)
# --------------------------------------------------------------------------
def _cov_cte(n: int, side: str) -> str:
    """DuckDB CTE body: distinct space-joined n-grams of one split."""
    concat = " || ' ' || ".join(f"l[i + {j}]" for j in range(n))
    return f"""
      SELECT DISTINCT {concat} AS g
      FROM (SELECT string_split(text, ' ') AS l FROM split
            WHERE {'is_train' if side == 'train' else 'NOT is_train'})
      CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(l) - {n - 1}))
                          AS i) _
      WHERE len(l) >= {n}
    """


@query(
    "llm_ngram_coverage",
    oracle=f"""
    WITH split AS (
      SELECT text, ((doc_id % 1000000007) * {_K}) % {_MOD} < {_TRAIN_LT} AS is_train
      FROM documents
    ),
    tr1 AS ({_cov_cte(1, "train")}), te1 AS ({_cov_cte(1, "test")}),
    tr2 AS ({_cov_cte(2, "train")}), te2 AS ({_cov_cte(2, "test")}),
    tr3 AS ({_cov_cte(3, "train")}), te3 AS ({_cov_cte(3, "test")}),
    rep AS (
      SELECT 1 AS n,
             (SELECT count(*) FROM te1) AS test_types,
             (SELECT count(*) FROM te1 JOIN tr1 USING (g)) AS covered
      UNION ALL
      SELECT 2,
             (SELECT count(*) FROM te2),
             (SELECT count(*) FROM te2 JOIN tr2 USING (g))
      UNION ALL
      SELECT 3,
             (SELECT count(*) FROM te3),
             (SELECT count(*) FROM te3 JOIN tr3 USING (g))
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(test_types AS BIGINT) AS test_types,
           CAST(covered AS BIGINT) AS covered_types,
           round(covered * 1.0 / test_types, 6) AS coverage
    FROM rep
    """,
)
def llm_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out n-gram TYPE coverage for n=1,2,3: what fraction of the
    test split's distinct n-grams the train split has seen — the
    generalization-gap companion to llm_eval_xent (low trigram
    coverage predicts high held-out perplexity) and the n-gram-level
    contamination readout when run in reverse. Each n is a distinct
    reduction on both sides plus one equi-join of type tables; the
    shuffles move fixed-width shingle hashes of bounded type counts,
    never documents."""
    from etl_framework_spark.operators.textops import shingles

    d = table(spark, sf_dir, "documents")
    is_train = ((F.col("doc_id") % 1000000007) * _K) % _MOD < _TRAIN_LT
    # persist: the 3 n-gram orders × (train, test) sides = 6 consumers
    # of the tokenized split — unpersisted, the document scan + split
    # ran 6× (r10). One row per doc.
    split = d.select(
        F.split("text", " ").alias("l"), is_train.alias("is_train")
    ).transform(persist_tracked)
    parts = []
    for n in (1, 2, 3):
        sh = split.filter(F.size("l") >= n).select(
            "is_train",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - %d), i -> concat_ws(' ', %s))"
                    % (n - 1, ", ".join(f"element_at(l, i + {j})" for j in range(n)))
                )
            ).alias("g"),
        )
        tr = sh.filter("is_train").select("g").distinct()
        te = sh.filter(~F.col("is_train")).select("g").distinct()
        cov = (
            te.join(tr, "g", "left_semi").agg(F.count("*").alias("covered"))
        )
        tot = te.agg(F.count("*").alias("test_types"))
        parts.append(
            tot.crossJoin(cov).select(
                F.lit(n).cast("bigint").alias("n"),
                F.col("test_types").cast("bigint").alias("test_types"),
                F.col("covered").cast("bigint").alias("covered_types"),
                F.round(
                    F.col("covered") / F.col("test_types").cast("double"), 6
                ).alias("coverage"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
