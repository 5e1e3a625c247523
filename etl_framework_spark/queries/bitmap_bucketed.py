"""Contract keys: ``agg_bitmap_distinct``, ``join_bucketed``,
``llm_js_divergence``.

Bitmap-index distinct counting, bucketed
(shuffle-free) joins, and pairwise Jensen-Shannon source divergence.

Scale notes:

- ``agg_bitmap_distinct``: Spark's bitmap aggregate family —
  user ids land in 32k-wide roaring-style buckets, each bucket
  reduces to a fixed-size binary bitmap map-side, and the exact
  distinct count is Σ popcount. Per-group state is O(id_range/32k)
  bitmaps instead of a hash set of every id — the engine-native way
  to count distinct at 100 TB without approximation. Oracle:
  plain COUNT(DISTINCT), proving the bitmap path is EXACT.
- ``join_bucketed``: both sides written bucketed-by-key into the
  session catalog, then joined — the plan has NO shuffle exchange
  above either scan (asserted in tests): bucket-pruned, co-located
  sort-merge. This is the storage-layout lever that turns every
  repeated big-big join into a scan-only operation at scale.
- ``llm_js_divergence``: symmetric, bounded [0, ln 2] drift between
  source unigram distributions; shared-token terms come from one
  self-join of the per-source token table, and each side's
  missing-mass contributes (1 − Σ_shared p)·ln 2 in closed form —
  no full-outer join, no per-pair vocab materialization.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_BUCKETS = 8


# --------------------------------------------------------------------------
# Bitmap-aggregate exact distinct counting
# --------------------------------------------------------------------------
@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via Spark's bitmap
    aggregate family: ids bucket into 32k-bit windows
    (bitmap_bucket_number), each (type, bucket) group folds its bit
    positions into ONE fixed-size binary bitmap map-side
    (bitmap_construct_agg), and the distinct count is the popcount
    sum (bitmap_count). The shuffle carries |groups|×|buckets|
    bitmaps — bounded by the id RANGE, not the row count — which is
    the engine-native exact alternative to hashing every id through
    the aggregation at 100 TB (and to HLL when approximation isn't
    acceptable). The oracle's COUNT(DISTINCT) certifies bit-exact
    equality; n_events rides along from the same pass."""
    e = table(spark, sf_dir, "events")
    per_bucket = e.groupBy(
        "event_type",
        F.bitmap_bucket_number(F.col("user_id")).alias("bkt"),
    ).agg(
        F.bitmap_construct_agg(
            F.bitmap_bit_position(F.col("user_id"))
        ).alias("bm"),
        F.count("*").alias("c"),
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count(F.col("bm"))).cast("bigint").alias("n_users"),
        F.sum("c").cast("bigint").alias("n_events"),
    )


# --------------------------------------------------------------------------
# Bucketed co-located join — no shuffle above either scan
# --------------------------------------------------------------------------
@query(
    "join_bucketed",
    oracle="""
    SELECT o.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o.o_totalprice), 2) AS total,
           CAST(count(DISTINCT c.c_nationkey) AS BIGINT) AS n_nations
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY o.o_orderstatus
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-bucket co-located join: orders and customer are written
    ``bucketBy({_BUCKETS}, custkey).sortBy(custkey)`` into the session
    catalog, and the subsequent merge join reads both sides
    pre-partitioned AND pre-sorted — the physical plan contains no
    shuffle exchange and no sort above either scan (asserted in
    tests/test_extras37.py). At 100 TB this is the storage-layout
    contract that amortizes ONE shuffle at write time across every
    future join on the key — the difference between an hourly
    pipeline re-shuffling 100 TB per run and scanning it. Results
    must equal the plain-join oracle on the original parquet."""
    # one file per bucket (the repartition below guarantees it) lets the
    # scan expose the sortBy order — but only behind this flag since
    # Spark 3.0; without it the plan keeps a (cheap, shuffle-free) Sort
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    t_o, t_c = f"b_orders_{tag}", f"b_customer_{tag}"
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for name, df, key in ((t_o, o, "o_custkey"), (t_c, c, "c_custkey")):
        # a fresh session's in-memory catalog forgets the table but the
        # warehouse directory persists — drop BOTH or saveAsTable fails
        # with LOCATION_ALREADY_EXISTS
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(wh, name.lower()), ignore_errors=True)
        (
            # repartition on the SAME key/count as the buckets (both use
            # murmur3 pmod) → exactly one file per bucket, which is the
            # condition under which Spark trusts sortBy and elides the
            # join-side Sort as well as the Exchange
            df.repartition(_BUCKETS, F.col(key))
            .write.mode("overwrite")
            .bucketBy(_BUCKETS, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    ob, cb = spark.table(t_o), spark.table(t_c)
    joined = ob.hint("merge").join(cb, ob.o_custkey == cb.c_custkey)
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.countDistinct("c_nationkey").cast("bigint").alias("n_nations"),
    )


# --------------------------------------------------------------------------
# Pairwise Jensen-Shannon divergence between source unigram dists
# --------------------------------------------------------------------------
@query(
    "llm_js_divergence",
    oracle="""
    WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    n AS (SELECT source, CAST(count(*) AS DOUBLE) AS nt
          FROM toks GROUP BY source),
    p AS (SELECT t.source, t.tok, count(*) / any_value(n.nt) AS pr
          FROM toks t JOIN n ON n.source = t.source
          GROUP BY t.source, t.tok),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             sum(a.pr * ln(2 * a.pr / (a.pr + b.pr))
                 + b.pr * ln(2 * b.pr / (a.pr + b.pr))) AS s_shared,
             sum(a.pr) AS pa_shared, sum(b.pr) AS pb_shared
      FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source
      GROUP BY source_a, source_b
    )
    SELECT source_a, source_b,
           round(0.5 * (s_shared + (1 - pa_shared) * ln(2)
                        + (1 - pb_shared) * ln(2)), 6) AS jsd
    FROM shared
    """,
)
def llm_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every two sources'
    unigram distributions — the symmetric, bounded ([0, ln 2])
    companion to llm_source_drift's KL-vs-corpus: which corpus slices
    are lexically interchangeable and which are different registers.
    The decomposition avoids any full-outer join: shared tokens
    contribute p·ln(2p/(p+q)) + q·ln(2q/(p+q)) via ONE self-join of
    the (source, token, prob) table on token, and each side's
    tokens-absent-from-the-other contribute (1 − Σ_shared p)·ln 2 in
    closed form. Work is |vocab| · avg-pairs-per-token — one shuffle
    on token, never on pairs."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    n = toks.groupBy("source").agg(F.count("*").cast("double").alias("nt"))
    p = (
        toks.groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
        .join(F.broadcast(n), "source")
        .select("source", "tok", (F.col("c") / F.col("nt")).alias("pr"))
    )
    a = p.select(
        F.col("source").alias("source_a"), "tok", F.col("pr").alias("pa")
    )
    b = p.select(
        F.col("source").alias("source_b"),
        F.col("tok").alias("tok_b"),
        F.col("pr").alias("pb"),
    )
    shared = (
        a.join(
            b,
            (F.col("tok") == F.col("tok_b"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(
                F.col("pa")
                * F.log(2 * F.col("pa") / (F.col("pa") + F.col("pb")))
                + F.col("pb")
                * F.log(2 * F.col("pb") / (F.col("pa") + F.col("pb")))
            ).alias("s_shared"),
            F.sum("pa").alias("pa_shared"),
            F.sum("pb").alias("pb_shared"),
        )
    )
    ln2 = 0.6931471805599453
    return shared.select(
        "source_a",
        "source_b",
        F.round(
            0.5
            * (
                F.col("s_shared")
                + (1 - F.col("pa_shared")) * ln2
                + (1 - F.col("pb_shared")) * ln2
            ),
            6,
        ).alias("jsd"),
    )
