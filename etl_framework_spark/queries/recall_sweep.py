"""Contract keys: ``vec_ivf_recall_sweep``, ``sales_share_shift``,
``train_length_bucketing``.

IVF recall sweep, regional share shift, and
length-bucketed batching efficiency.

Reference parity: the reference's ANN quality-knob sweep, its
share-shift report, and its batch-padding optimizer — re-expressed
as a quantized-distance candidate-set comparison, a two-year share
join, and two row_number batchings over the same lengths.

Scale notes:

- ``vec_ivf_recall_sweep``: the exact top-k runs once per query
  over the corpus; IVF candidates prune by centroid assignment —
  the whole sweep reuses ONE scored pair table, filtered per
  nprobe. At scale the pair table is the candidate set, and the
  sweep is the calibration run an ANN deployment does offline.
- ``sales_share_shift``: one conditional rollup per nation.
- ``train_length_bucketing``: two deterministic batchings of the
  same |docs| rollup; padding waste is a per-batch max×size sum.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked
from etl_framework_spark.operators.rounding import q6

_IVF_K = 10  # top-k recall target
_IVF_NQ = 20  # query vectors (lowest vec_ids)
_BATCH = 32  # batching size for padding-waste comparison


# --------------------------------------------------------------------------
# IVF recall sweep: recall@10 as a function of nprobe
# --------------------------------------------------------------------------
@query(
    "vec_ivf_recall_sweep",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    dims AS (
      SELECT label AS clabel,
             unnest(generate_series(1, len(v))) AS dim, unnest(v) AS val
      FROM e
    ),
    carr AS (
      SELECT clabel, list(avg_val ORDER BY dim) AS cv
      FROM (SELECT clabel, dim, avg(val) AS avg_val FROM dims
            GROUP BY clabel, dim) GROUP BY clabel
    ),
    assign AS (
      SELECT e.vec_id, CAST(min(
               floor(list_reduce(
                 list_transform(range(1, len(e.v) + 1),
                   k -> (e.v[k] - c.cv[k]) * (e.v[k] - c.cv[k])),
                 (a, b) -> a + b) * 1000000 + 0.5) * 100 + c.clabel)
               % 100 AS BIGINT) AS lst
      FROM e CROSS JOIN carr c GROUP BY e.vec_id
    ),
    q AS (SELECT * FROM e ORDER BY vec_id LIMIT {_IVF_NQ}),
    qc AS (
      SELECT q.vec_id AS qid, c.clabel,
             floor(list_reduce(
               list_transform(range(1, len(q.v) + 1),
                 k -> (q.v[k] - c.cv[k]) * (q.v[k] - c.cv[k])),
               (a, b) -> a + b) * 1000000 + 0.5) * 100 + c.clabel AS ckey
      FROM q CROSS JOIN carr c
    ),
    crank AS (
      SELECT qid, clabel,
             row_number() OVER (PARTITION BY qid ORDER BY ckey) AS crk
      FROM qc
    ),
    pairs AS (
      SELECT q.vec_id AS qid, e.vec_id AS did, a.lst,
             floor(list_reduce(
               list_transform(range(1, len(q.v) + 1),
                 k -> (q.v[k] - e.v[k]) * (q.v[k] - e.v[k])),
               (a2, b2) -> a2 + b2) * 1000000 + 0.5) * 100000
               + e.vec_id AS dkey
      FROM q JOIN e ON q.vec_id <> e.vec_id
      JOIN assign a ON a.vec_id = e.vec_id
    ),
    exact AS (
      SELECT qid, did,
             row_number() OVER (PARTITION BY qid ORDER BY dkey) AS rk
      FROM pairs
    ),
    truth AS (SELECT qid, did FROM exact WHERE rk <= {_IVF_K}),
    probes AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
    cand AS (
      SELECT pr.nprobe, p.qid, p.did,
             row_number() OVER (PARTITION BY pr.nprobe, p.qid
                                ORDER BY p.dkey) AS rk
      FROM pairs p
      JOIN crank cr ON cr.qid = p.qid AND cr.clabel = p.lst
      JOIN probes pr ON cr.crk <= pr.nprobe
    ),
    got AS (SELECT nprobe, qid, did FROM cand WHERE rk <= {_IVF_K}),
    hits AS (
      SELECT g.nprobe, CAST(count(*) AS DOUBLE) AS n_hit
      FROM got g JOIN truth t ON g.qid = t.qid AND g.did = t.did
      GROUP BY g.nprobe
    )
    SELECT p.nprobe AS nprobe,
           round(coalesce(h.n_hit, 0) / ({_IVF_NQ} * {_IVF_K}.0), 6)
             AS recall_at_{_IVF_K}
    FROM probes p LEFT JOIN hits h ON p.nprobe = h.nprobe
    ORDER BY nprobe
    """,
)
def vec_ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quality-knob calibration: recall@10 of inverted-list
    search as nprobe sweeps 1→8, against brute-force truth. Lists
    are the 10 label-centroid cells (same quantized argmin as
    vec_nearest_centroid); a query probes its nprobe nearest
    centroids and ranks only those cells' vectors. The curve IS the
    deployment decision: the nprobe where recall plateaus sets the
    latency budget. One scored pair table feeds truth AND every
    probe level (filter, not recompute); all distances quantized +
    id-tiebroken → exact. Ref: reference ANN-tuning tests (cf.
    llm_sim_ivf for the operator, llm_lsh_calibration for the
    hash-family analogue)."""
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    e = e.transform(persist_tracked)
    dims = e.select(
        "label", F.posexplode(F.col("v")).alias("d0", "val")
    ).select(F.col("label").alias("clabel"), (F.col("d0") + 1).alias("dim"), "val")
    carr = (
        dims.groupBy("clabel", "dim")
        .agg(F.avg("val").alias("avg_val"))
        .groupBy("clabel")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "avg_val"))).alias("sv"))
        .select("clabel", F.col("sv.avg_val").alias("cv"))
    )

    def qdist(va, vb):
        diffs = F.transform(
            F.sequence(F.lit(1), F.size(va)),
            lambda k: (F.element_at(va, k) - F.element_at(vb, k))
            * (F.element_at(va, k) - F.element_at(vb, k)),
        )
        return F.aggregate(
            F.slice(diffs, 2, F.size(diffs) - 1),
            F.element_at(diffs, 1),
            lambda a, b: a + b,
        )

    ec = e.crossJoin(F.broadcast(carr))
    assign = ec.select(
        "vec_id",
        (
            F.floor(qdist(F.col("v"), F.col("cv")) * 1000000.0 + 0.5) * 100
            + F.col("clabel")
        ).alias("akey"),
    ).groupBy("vec_id").agg((F.min("akey") % 100).cast("bigint").alias("lst"))
    q = e.orderBy("vec_id").limit(_IVF_NQ).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    qc = q.crossJoin(F.broadcast(carr)).select(
        "qid",
        "clabel",
        (
            F.floor(qdist(F.col("qv"), F.col("cv")) * 1000000.0 + 0.5) * 100
            + F.col("clabel")
        ).alias("ckey"),
    )
    crank = qc.select(
        "qid",
        "clabel",
        F.row_number().over(W.partitionBy("qid").orderBy("ckey")).alias("crk"),
    )
    pairs = (
        q.join(e, q.qid != e.vec_id)
        .join(assign, "vec_id")
        .select(
            "qid",
            F.col("vec_id").alias("did"),
            "lst",
            (
                F.floor(qdist(F.col("qv"), F.col("v")) * 1000000.0 + 0.5) * 100000
                + F.col("vec_id")
            ).alias("dkey"),
        )
    )
    pairs = pairs.transform(persist_tracked)
    exact = pairs.select(
        "qid",
        "did",
        F.row_number().over(W.partitionBy("qid").orderBy("dkey")).alias("rk"),
    )
    truth = exact.filter(F.col("rk") <= _IVF_K).select("qid", "did")
    probes = spark.range(4).select(
        F.element_at(F.array(F.lit(1), F.lit(2), F.lit(4), F.lit(8)), (F.col("id") + 1).cast("int")).alias("nprobe")
    )
    cand = (
        pairs.join(crank, (pairs.qid == crank.qid) & (pairs.lst == crank.clabel))
        .drop(crank.qid)
        .join(F.broadcast(probes), F.col("crk") <= F.col("nprobe"))
        .select("nprobe", "qid", "did", "dkey")
    )
    got = cand.select(
        "nprobe",
        "qid",
        "did",
        F.row_number()
        .over(W.partitionBy("nprobe", "qid").orderBy("dkey"))
        .alias("rk"),
    ).filter(F.col("rk") <= _IVF_K)
    hits = got.join(truth, ["qid", "did"]).groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("double").alias("n_hit")
    )
    out = (
        probes.join(hits, "nprobe", "left")
        .select(
            "nprobe",
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0.0))
                / float(_IVF_NQ * _IVF_K),
                6,
            ).alias(f"recall_at_{_IVF_K}"),
        )
        .orderBy("nprobe")
    )
    return out


# --------------------------------------------------------------------------
# Regional share shift: 1995 -> 1996 nation revenue share movers
# --------------------------------------------------------------------------
@query(
    "sales_share_shift",
    oracle="""
    WITH r AS (
      SELECT c.c_nationkey AS nation,
             CAST(substr(CAST(o.o_orderdate AS VARCHAR), 1, 4) AS INT)
               AS yr,
             o.o_totalprice AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE CAST(substr(CAST(o.o_orderdate AS VARCHAR), 1, 4) AS INT)
              IN (1995, 1996)
    ),
    g AS (
      SELECT nation,
             sum(CASE WHEN yr = 1995 THEN rev ELSE 0 END) AS r95,
             sum(CASE WHEN yr = 1996 THEN rev ELSE 0 END) AS r96
      FROM r GROUP BY nation
    ),
    t AS (SELECT sum(r95) AS t95, sum(r96) AS t96 FROM g)
    SELECT g.nation,
           floor(g.r95 / t.t95 * 1000000 + 0.5) / 1000000 AS share_1995,
           floor(g.r96 / t.t96 * 1000000 + 0.5) / 1000000 AS share_1996,
           floor((g.r96 / t.t96 - g.r95 / t.t95) * 1000000 + 0.5) / 1000000
             AS share_delta
    FROM g CROSS JOIN t
    ORDER BY abs(g.r96 / t.t96 - g.r95 / t.t95) DESC, g.nation
    LIMIT 10
    """,
)
def sales_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regional share-shift report: each nation's revenue share in
    1995 vs 1996 and the delta, top-10 movers by absolute shift —
    the market-share bridge that separates 'the pie grew' from 'our
    slice grew'. One conditional rollup + broadcast totals;
    share quantization on both engines. Ref: reference share
    reports (cf. q8_share for the single-market view,
    events_mix_drift for the distributional test)."""
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    yr = F.year(F.col("o_orderdate").cast("date"))
    r = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .filter(yr.isin(1995, 1996))
        .select(
            F.col("c_nationkey").alias("nation"),
            yr.alias("yr"),
            F.col("o_totalprice").alias("rev"),
        )
    )
    g = r.groupBy("nation").agg(
        F.sum(F.when(F.col("yr") == 1995, F.col("rev")).otherwise(0.0)).alias("r95"),
        F.sum(F.when(F.col("yr") == 1996, F.col("rev")).otherwise(0.0)).alias("r96"),
    )
    t = g.agg(F.sum("r95").alias("t95"), F.sum("r96").alias("t96"))
    j = g.crossJoin(F.broadcast(t))
    s95 = F.col("r95") / F.col("t95")
    s96 = F.col("r96") / F.col("t96")
    return (
        j.select(
            "nation",
            q6(s95).alias("share_1995"),
            q6(s96).alias("share_1996"),
            q6(s96 - s95).alias("share_delta"),
            F.abs(s96 - s95).alias("_a"),
        )
        .orderBy(F.desc("_a"), "nation")
        .limit(10)
        .drop("_a")
    )


# --------------------------------------------------------------------------
# Length bucketing: padding waste, arrival order vs sorted batches
# --------------------------------------------------------------------------
@query(
    "train_length_bucketing",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    arrival AS (
      SELECT n, (row_number() OVER (ORDER BY doc_id) - 1)
                  // {_BATCH} AS b
      FROM d
    ),
    srt AS (
      SELECT n, (row_number() OVER (ORDER BY n, doc_id) - 1)
                  // {_BATCH} AS b
      FROM d
    ),
    wa AS (
      SELECT sum(CAST(mx AS BIGINT) * cnt) AS padded, sum(tok) AS toks
      FROM (SELECT b, max(n) AS mx, count(*) AS cnt, sum(n) AS tok
            FROM arrival GROUP BY b)
    ),
    ws AS (
      SELECT sum(CAST(mx AS BIGINT) * cnt) AS padded, sum(tok) AS toks
      FROM (SELECT b, max(n) AS mx, count(*) AS cnt, sum(n) AS tok
            FROM srt GROUP BY b)
    )
    SELECT CAST(wa.toks AS BIGINT) AS real_tokens,
           CAST(wa.padded AS BIGINT) AS padded_arrival,
           CAST(ws.padded AS BIGINT) AS padded_sorted,
           round(1.0 - CAST(wa.toks AS DOUBLE) / wa.padded, 6)
             AS waste_arrival,
           round(1.0 - CAST(ws.toks AS DOUBLE) / ws.padded, 6)
             AS waste_sorted,
           round(CAST(wa.padded - ws.padded AS DOUBLE) / wa.padded, 6)
             AS compute_saved
    FROM wa CROSS JOIN ws
    """,
)
def train_length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste comparison for batch-32 training: documents
    batched in ARRIVAL order vs SORTED by length (each batch pads to
    its max length). compute_saved is the GPU-time fraction that
    length-bucketing buys — routinely 10-30% on real corpora, and
    the reason every serious trainer sorts-then-shuffles. Two
    deterministic row_number batchings of one |docs| rollup; integer
    token counts → exact. Ref: reference batching-optimizer tests
    (cf. train_packing_eff for the concat-packing alternative,
    pack_sequences for the packer itself)."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n"),
    )
    arrival = d.select(
        "n",
        F.floor(
            (F.row_number().over(W.orderBy("doc_id")) - 1) / _BATCH
        ).alias("b"),
    )
    srt = d.select(
        "n",
        F.floor(
            (F.row_number().over(W.orderBy("n", "doc_id")) - 1) / _BATCH
        ).alias("b"),
    )

    def waste(df):
        per = df.groupBy("b").agg(
            F.max("n").alias("mx"),
            F.count(F.lit(1)).alias("cnt"),
            F.sum("n").alias("tok"),
        )
        return per.agg(
            F.sum(F.col("mx").cast("bigint") * F.col("cnt")).alias("padded"),
            F.sum("tok").alias("toks"),
        )

    wa = waste(arrival).select(
        F.col("padded").alias("pa"), F.col("toks").alias("ta")
    )
    ws = waste(srt).select(
        F.col("padded").alias("ps"), F.col("toks").alias("ts")
    )
    j = wa.crossJoin(F.broadcast(ws))
    return j.select(
        F.col("ta").cast("bigint").alias("real_tokens"),
        F.col("pa").cast("bigint").alias("padded_arrival"),
        F.col("ps").cast("bigint").alias("padded_sorted"),
        F.round(1.0 - F.col("ta").cast("double") / F.col("pa"), 6).alias(
            "waste_arrival"
        ),
        F.round(1.0 - F.col("ts").cast("double") / F.col("ps"), 6).alias(
            "waste_sorted"
        ),
        F.round(
            (F.col("pa") - F.col("ps")).cast("double") / F.col("pa"), 6
        ).alias("compute_saved"),
    )
