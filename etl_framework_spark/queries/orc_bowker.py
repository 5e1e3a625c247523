"""Contract keys: ``sink_roundtrip_orc``, ``stats_bowker``,
``vec_nearest_centroid``.

ORC sink round-trip, Bowker symmetry test,
nearest-centroid classifier accuracy.

Reference parity: the reference's columnar-sink matrix (parquet/
CSV/JSON already covered — ORC completes it), its paired-categorical
symmetry test, and its prototype-classifier evaluation —
re-expressed as a write/re-read aggregate, a transition-cell rollup,
and a quantized-argmin assignment against broadcast centroids.

Scale notes:

- ``sink_roundtrip_orc``: same write-partitioned/re-read/aggregate
  shape as the parquet sink; the oracle runs on the ORIGINAL table,
  so byte fidelity of the format is what's actually asserted.
- ``stats_bowker``: customer first→second priority transitions are
  one window + one 5×5 rollup; the statistic sums 10 cells.
- ``vec_nearest_centroid``: 10 centroids broadcast; each vector
  scores 10 dot-distances row-locally — linear scan, no pair join.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import scratch_path, table
from etl_framework_spark.operators import guarded
from etl_framework_spark.operators.similarity import fold_sqdist
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# ORC sink round-trip
# --------------------------------------------------------------------------
@query(
    "sink_roundtrip_orc",
    oracle="""
    SELECT l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem WHERE l_discount >= 0.05
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def sink_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip: write the filtered fact as ORC
    partitioned by l_linestatus, re-read, aggregate — must match the
    oracle computed on the ORIGINAL parquet exactly (count, integer
    quantity sum, and a float sum to catch any type coercion the
    format might sneak in). Completes the columnar-sink matrix
    (parquet/CSV/JSON/ORC). Ref: reference format-connector tests
    (cf. sink_roundtrip_parquet for the layout twin)."""
    out = scratch_path(f"sink_orc_{os.path.basename(sf_dir.rstrip('/'))}")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_discount") >= 0.05)
    li.write.mode("overwrite").partitionBy("l_linestatus").orc(out)
    back = spark.read.orc(out)
    return (
        back.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("l_linestatus")
    )


# --------------------------------------------------------------------------
# Bowker symmetry test on first -> second order priority transitions
# --------------------------------------------------------------------------
@query(
    "stats_bowker",
    oracle="""
    WITH seq AS (
      SELECT o_custkey AS cust, o_orderpriority AS prio,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    pairs AS (
      SELECT a.prio AS p1, b.prio AS p2
      FROM seq a JOIN seq b
        ON a.cust = b.cust AND a.rn = 1 AND b.rn = 2
    ),
    cells AS (
      SELECT p1, p2, CAST(count(*) AS DOUBLE) AS n
      FROM pairs GROUP BY p1, p2
    ),
    offd AS (
      SELECT i.p1 AS pi, i.p2 AS pj,
             i.n AS nij, coalesce(j.n, 0.0) AS nji
      FROM cells i LEFT JOIN cells j
        ON i.p1 = j.p2 AND i.p2 = j.p1
      WHERE i.p1 < i.p2
    )
    SELECT CAST((SELECT sum(n) FROM cells) AS BIGINT) AS n_pairs,
           CAST(count(*) AS BIGINT) AS n_offdiag_cells,
           round(sum((nij - nji) * (nij - nji)
                     / CASE WHEN nij + nji > 0 THEN nij + nji ELSE 1 END),
                 6) AS bowker_chi2,
           CAST(count(*) AS BIGINT) AS df
    FROM offd
    """,
)
def stats_bowker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowker symmetry test on customers' first→second order
    priority: χ² = Σ_{i<j}(n_ij−n_ji)²/(n_ij+n_ji) over the 5×5
    transition matrix — the k-category generalization of McNemar
    that asks 'is priority DRIFT directional (e.g. urgent→low more
    than low→urgent) or symmetric churn'. One window to index each
    customer's orders, one self-join for the (1st, 2nd) pair, one
    cell rollup; integer counts → exact. Ref: reference
    paired-categorical tests (cf. stats_mcnemar for 2×2,
    events_rfm_migration for the unordered view)."""
    od = table(spark, sf_dir, "orders")
    seq = od.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderpriority").alias("prio"),
        F.row_number()
        .over(W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .alias("rn"),
    )
    a = seq.filter(F.col("rn") == 1).select("cust", F.col("prio").alias("p1"))
    b = seq.filter(F.col("rn") == 2).select("cust", F.col("prio").alias("p2"))
    pairs = a.join(b, "cust")
    cells = pairs.groupBy("p1", "p2").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    i = cells.select(
        F.col("p1").alias("pi"), F.col("p2").alias("pj"), F.col("n").alias("nij")
    )
    j = cells.select(
        F.col("p2").alias("pi"), F.col("p1").alias("pj"), F.col("n").alias("nji")
    )
    offd = (
        i.join(j, ["pi", "pj"], "left")
        .filter(F.col("pi") < F.col("pj"))
        .select("pi", "pj", "nij", F.coalesce(F.col("nji"), F.lit(0.0)).alias("nji"))
    )
    tot = cells.agg(F.sum("n").alias("np"))
    d = F.col("nij") + F.col("nji")
    return offd.crossJoin(F.broadcast(tot)).agg(
        F.max("np").cast("bigint").alias("n_pairs"),
        F.count(F.lit(1)).cast("bigint").alias("n_offdiag_cells"),
        F.round(
            F.sum(
                (F.col("nij") - F.col("nji"))
                * (F.col("nij") - F.col("nji"))
                / F.when(d > 0, d).otherwise(1.0)
            ),
            6,
        ).alias("bowker_chi2"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    )


# --------------------------------------------------------------------------
# Nearest-centroid classifier: label accuracy + worst confusions
# --------------------------------------------------------------------------
_NC_MAX_CENTROIDS = 100  # key%100 label encoding bounds the domain


@query(
    "vec_nearest_centroid",
    oracle="""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    dims AS (
      SELECT label,
             unnest(generate_series(1, len(v))) AS dim,
             unnest(v) AS val
      FROM e
    ),
    cent AS (
      SELECT label AS clabel, dim, avg(val) AS c
      FROM dims GROUP BY clabel, dim
    ),
    carr AS (
      SELECT clabel, list(c ORDER BY dim) AS cv FROM cent GROUP BY clabel
    ),
    scored AS (
      SELECT e.vec_id, e.label,
             floor(list_reduce(
               list_transform(range(1, len(e.v) + 1),
                 k -> (e.v[k] - carr.cv[k]) * (e.v[k] - carr.cv[k])),
               (a, b) -> a + b) * 1000000 + 0.5) * 100 + carr.clabel AS key
      FROM e CROSS JOIN carr
    ),
    assigned AS (
      SELECT vec_id, label, CAST(min(key) % 100 AS BIGINT) AS pred
      FROM scored GROUP BY vec_id, label
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN label = pred THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           round(CAST(sum(CASE WHEN label = pred THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS accuracy,
           CAST(count(DISTINCT pred) AS BIGINT) AS n_used_centroids
    FROM assigned
    """,
)
def vec_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classifier evaluated in-sample on
    the labeled embeddings: per-label mean vectors, each embedding
    assigned to its closest centroid (squared-distance argmin,
    grid-quantized and key-encoded with the label as tiebreak so
    both engines break ties identically), reported as accuracy and
    the number of centroids actually winning points. The 1-NN-
    against-prototypes baseline every embedding pipeline reports
    before training a real head. Centroids are 10 broadcast rows —
    the scan is linear, no pair join. Ref: reference prototype-
    classifier tests (cf. vec_silhouette_centroid for the geometry,
    llm_cluster_purity for the unsupervised twin)."""
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    dims = e.select(
        "label", F.posexplode(F.col("v")).alias("dim0", "val")
    ).select("label", (F.col("dim0") + 1).alias("dim"), "val")
    cent = dims.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.avg("val").alias("c")
    )
    carr = cent.groupBy("clabel").agg(
        F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("sv")
    ).select("clabel", F.col("sv.c").alias("cv"))
    # The centroid matrix is ≤100 rows by construction (the key%100
    # label encoding bounds it), so it is collected under a loud guard
    # and shipped in the task closure; each Arrow batch computes its
    # (batch × centroids) distance slab with ``fold_sqdist`` and takes
    # the keyed argmin locally — no crossJoin fan-out of interpreted
    # per-pair lambdas, no fan-out shuffle (1.99 s -> 0.80 s at sf0.1).
    import numpy as np
    import pandas as pd

    cents = guarded.collect_capped(carr, _NC_MAX_CENTROIDS)
    if cents is None:
        raise ValueError(
            "vec_nearest_centroid: centroid count exceeds "
            f"{_NC_MAX_CENTROIDS} — the key%100 label encoding (shared "
            "with the oracle) only supports 2-digit labels; widen both "
            "together"
        )
    if not cents.num_rows:
        raise ValueError(
            "vec_nearest_centroid: no centroids — embeddings table is "
            "empty"
        )
    labels_arr = cents.column("clabel").to_numpy().astype(np.int64)
    C = guarded.as_matrix(cents.column("cv"))  # (L, D)

    def gen(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            acc = fold_sqdist(guarded.as_matrix(pdf["v"]), C)
            key = (
                np.floor(acc * 1000000.0 + 0.5).astype(np.int64) * 100
                + labels_arr[None, :]
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": pdf["label"].to_numpy(),
                    "pred": key.min(axis=1) % 100,
                }
            )

    assigned = e.mapInPandas(gen, "vec_id bigint, label int, pred bigint")
    return assigned.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(F.when(F.col("label") == F.col("pred"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        F.round(
            F.sum(F.when(F.col("label") == F.col("pred"), 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy"),
        F.count_distinct("pred").cast("bigint").alias("n_used_centroids"),
    )
