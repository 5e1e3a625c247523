"""Unit tests for the round-2 operator batch (markov_zorder.py, cluster_q.py):
algebraic invariants cheap enough for sf0.001 — the exact-value gate is
tools/check.py against the DuckDB oracles.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as ent
from etl_framework_spark.catalog import table
from tests.conftest import SF_SMALL


def test_kmeans_partitions_corpus(spark):
    """Cluster sizes sum to the corpus size; at most k clusters."""
    pdf = ent.queries()["llm_kmeans"](spark, SF_SMALL).toPandas()
    n = table(spark, SF_SMALL, "embeddings").count()
    assert pdf.n_members.sum() == n
    assert len(pdf) <= 8
    assert pdf.cid.between(0, 7).all()


def test_kmeans_improves_on_init(spark):
    """Iteration-2 assignment can't be worse than assigning everything
    to iteration-1 centroids chosen at init: total within-cluster
    distance must not increase across the Lloyd step (standard
    monotonicity of k-means)."""
    from etl_framework_spark.operators.similarity import sqdist_fold
    from etl_framework_spark.queries.cluster_q import K, _assign, _update

    emb = table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    from pyspark.sql import Window as W

    init = (
        emb.orderBy("vec_id")
        .limit(K)
        .withColumn("rn", F.row_number().over(W.orderBy("vec_id")))
        .select((F.col("rn") - 1).cast("int").alias("cid"), F.col("embedding").alias("c"))
    )

    def cost(assigned, cents) -> float:
        joined = assigned.join(cents, "cid").select(
            sqdist_fold(F.col("embedding"), F.col("c")).alias("d")
        )
        return joined.agg(F.sum("d")).collect()[0][0]

    a1 = _assign(emb, init)
    cent1 = _update(a1)
    a2 = _assign(emb, cent1)
    # cost of a2 under cent1 <= cost of a1 under cent1 (reassignment step)
    assert cost(a2, cent1) <= cost(a1, cent1) + 1e-9


def test_zorder_roundtrip(spark):
    """Z-values deinterleave back to the original coordinates."""
    pdf = ent.queries()["fn_zorder"](spark, SF_SMALL).toPandas().head(200)

    def deinterleave(z: int) -> tuple[int, int]:
        x = y = 0
        for i in range(16):
            x |= ((z >> (2 * i)) & 1) << i
            y |= ((z >> (2 * i + 1)) & 1) << i
        return x, y

    for r in pdf.itertuples():
        assert deinterleave(int(r.zval)) == (int(r.zx), int(r.zy))


def test_zorder_locality(spark):
    """Sorting by zval clusters both dimensions: each contiguous block
    of the z-sorted table must span a much smaller x- and y-range than
    the full domain (the data-skipping property cluster_by exploits)."""
    pdf = (
        ent.queries()["fn_zorder"](spark, SF_SMALL)
        .toPandas()
        .sort_values("zval")
        .reset_index(drop=True)
    )
    n_blocks = 8
    block = max(len(pdf) // n_blocks, 1)
    x_dom = pdf.zx.max() - pdf.zx.min() + 1
    y_dom = pdf.zy.max() - pdf.zy.min() + 1
    x_spans, y_spans = [], []
    for b in range(n_blocks):
        blk = pdf.iloc[b * block : (b + 1) * block]
        if len(blk) == 0:
            continue
        x_spans.append(blk.zx.max() - blk.zx.min() + 1)
        y_spans.append(blk.zy.max() - blk.zy.min() + 1)
    # average per-block span must beat the full domain on BOTH dims
    assert sum(x_spans) / len(x_spans) < x_dom
    assert sum(y_spans) / len(y_spans) < y_dom


def test_ivm_merge_equals_recompute(spark):
    """Partial-state merge == direct full aggregation."""
    merged = ent.queries()["ivm_merge"](spark, SF_SMALL)
    ev = table(spark, SF_SMALL, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    direct = ev.groupBy(
        F.date_trunc("day", F.col("tts")).alias("day"), "event_type"
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_salted_join_matches_plain(spark):
    """Salting must be invisible: same multiset as the plain join."""
    salted = ent.queries()["join_salted"](spark, SF_SMALL)
    li = table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    supp = table(spark, SF_SMALL, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    plain = li.join(supp, li.l_suppkey == supp.s_suppkey).select(
        "l_orderkey", "l_linenumber", "s_name", "s_nationkey"
    )
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_equidepth_buckets_balanced(spark):
    """Equi-depth: bucket sizes differ by at most 1 and cover the table."""
    pdf = ent.queries()["stats_equidepth"](spark, SF_SMALL).toPandas()
    total = table(spark, SF_SMALL, "orders").count()
    assert pdf.n.sum() == total
    assert pdf.n.max() - pdf.n.min() <= 1
    # bucket ranges are ordered: lo of bucket b+1 >= hi of bucket b
    pdf = pdf.sort_values("bucket").reset_index(drop=True)
    for i in range(len(pdf) - 1):
        assert pdf.lo[i + 1] >= pdf.hi[i] - 1e-9


def test_moving_median_bounds(spark):
    """A median always lies within the min/max of its frame — check
    against a pandas recomputation on one user."""
    pdf = (
        ent.queries()["win_moving_median"](spark, SF_SMALL)
        .toPandas()
        .sort_values("event_id")
    )
    ev = (
        table(spark, SF_SMALL, "events")
        .select("event_id", "user_id", "value", F.date_trunc("second", "ts").alias("tts"))
        .toPandas()
        .sort_values(["user_id", "tts", "event_id"])
    )
    got = dict(zip(pdf.event_id, pdf.med7))
    for uid, grp in ev.groupby("user_id"):
        med = grp.value.rolling(7, min_periods=1).median()
        for eid, want in zip(grp.event_id, med):
            assert abs(got[eid] - want) < 1e-6


def test_markov_probs_normalize(spark):
    """Per-prev-state probabilities sum to 1."""
    pdf = ent.queries()["events_markov"](spark, SF_SMALL).toPandas()
    sums = pdf.groupby("prev_type").p.sum()
    assert ((sums - 1.0).abs() < 1e-4).all()


def test_scrub_removes_patterns(spark):
    """After scrubbing, no digit runs or >=12-letter tokens remain."""
    d = table(spark, SF_SMALL, "documents")
    scrubbed = d.select(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), "[0-9]+", "<num>"),
            "[A-Za-z]{12,}",
            "<long>",
        ).alias("s")
    )
    bad = scrubbed.filter(
        F.col("s").rlike("[0-9]") | F.col("s").rlike("[A-Za-z]{12,}")
    ).count()
    assert bad == 0


# --------------------------------------------------------------------------
# Plan assertions for round-2 ops (SURVEY.md §3.3)
# --------------------------------------------------------------------------
def test_kmeans_broadcasts_centroids(spark):
    """Both assignment stages must broadcast the k-row centroid side —
    a SortMergeJoin would shuffle the corpus per iteration."""
    from etl_framework_spark.plans import assert_in_plan

    assert_in_plan(
        ent.queries()["llm_kmeans"](spark, SF_SMALL),
        "BroadcastExchange",
        absent=("SortMergeJoin",),
    )


def test_salted_join_stays_broadcast(spark):
    """16x-replicated supplier is still broadcast-sized; salting must
    not force a shuffle join."""
    from etl_framework_spark.plans import assert_in_plan

    assert_in_plan(
        ent.queries()["join_salted"](spark, SF_SMALL),
        "BroadcastHashJoin",
        absent=("SortMergeJoin",),
    )


def test_zorder_no_shuffle(spark):
    """Z-value computation is pure per-row arithmetic — no exchange."""
    from etl_framework_spark.plans import assert_in_plan

    assert_in_plan(
        ent.queries()["fn_zorder"](spark, SF_SMALL), "Project", absent=("Exchange",)
    )


def test_ivm_merge_partial_aggs(spark):
    """State and delta aggregations must map-side combine."""
    from etl_framework_spark.plans import assert_in_plan

    plan = assert_in_plan(ent.queries()["ivm_merge"](spark, SF_SMALL), "HashAggregate")
    assert plan.count("HashAggregate") >= 2


# --------------------------------------------------------------------------
# Streaming twin: stateful EWMA (backs the win_ewma docstring claim)
# --------------------------------------------------------------------------
def test_stream_ewma_matches_batch_fold(spark):
    """Full-history EWMA kept as per-user state in
    applyInPandasWithState must equal the batch strict fold."""
    import pandas as pd
    import pytest as _pytest

    try:
        from pyspark.sql.streaming.state import GroupStateTimeout
    except ImportError:
        _pytest.skip("applyInPandasWithState state API not available")

    from etl_framework_spark.streaming.harness import replay_events

    ALPHA = 0.3

    def ewma_state(key, pdfs, state):
        s = state.get[0] if state.exists else None
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for v in pdf["value"]:
                s = float(v) if s is None else s * (1 - ALPHA) + float(v) * ALPHA
        state.update((s,))
        yield pd.DataFrame({"user_id": [key[0]], "ewma": [s]})

    def transform(ev):
        return ev.groupBy("user_id").applyInPandasWithState(
            ewma_state,
            outputStructType="user_id bigint, ewma double",
            stateStructType="s double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    stream = replay_events(spark, SF_SMALL, transform, "update")
    got = {r.user_id: r.ewma for r in stream.collect()}

    # batch strict fold over the full per-user history, same order
    from pyspark.sql import Window as W

    ev = (
        table(spark, SF_SMALL, "events")
        .select("user_id", "value", F.date_trunc("second", "ts").alias("tts"), "event_id")
        .toPandas()
        .sort_values(["user_id", "tts", "event_id"])
    )
    for uid, grp in ev.groupby("user_id"):
        s = None
        for v in grp["value"]:
            s = float(v) if s is None else s * (1 - ALPHA) + float(v) * ALPHA
        assert abs(got[uid] - s) < 1e-9


def test_minhash_fast_agrees_with_md5(spark):
    """The xxhash64 production path must make broadly the same
    keep-decisions as the md5 oracle-checked variant. This synthetic
    corpus is DENSE (median pairwise Jaccard ≈ 0.66, right in the
    1-(1-s^8)^2 band-collision transition zone), so different hash
    families legitimately disagree on borderline pairs — measured
    ≈83% per-doc agreement; on a real sparse corpus (s « τ for
    non-dups) both families converge. Assert the honest floor plus
    keep-RATE similarity."""
    SF_MID = "/root/testdata/sf0.01"
    md5 = {
        r.doc_id: r.keep
        for r in ent.queries()["llm_dedup_minhash"](spark, SF_MID).collect()
    }
    fast = {
        r.doc_id: r.keep
        for r in ent.queries()["llm_dedup_minhash_fast"](spark, SF_MID).collect()
    }
    assert set(md5) == set(fast)
    agree = sum(1 for d in md5 if md5[d] == fast[d])
    assert agree / len(md5) >= 0.75
    rate_md5 = sum(md5.values()) / len(md5)
    rate_fast = sum(fast.values()) / len(fast)
    assert abs(rate_md5 - rate_fast) < 0.10


def test_bpe_merge_weights_monotone(spark):
    """BPE max-pair weight is non-increasing across rounds: any pair
    at round r+1 either existed at round r (count can only shrink) or
    contains the just-merged symbol (count <= the merged pair's)."""
    pdf = (
        ent.queries()["llm_bpe_merges"](spark, SF_SMALL)
        .toPandas()
        .sort_values("round")
    )
    assert list(pdf["round"]) == [1, 2, 3]
    ws = list(pdf.weight)
    assert ws[0] >= ws[1] >= ws[2] > 0
    # learned merges are single-symbol pairs from the corpus charset
    for r in pdf.itertuples():
        assert r.sym_a and r.sym_b and "~" not in r.sym_a + r.sym_b


def test_langid_confusion_totals(spark):
    """Confusion-matrix row sums equal per-language doc counts."""
    pdf = ent.queries()["llm_langid_confusion"](spark, SF_SMALL).toPandas()
    truth = (
        table(spark, SF_SMALL, "documents")
        .groupBy("lang")
        .count()
        .toPandas()
        .set_index("lang")["count"]
    )
    sums = pdf.groupby("meta_lang").n.sum()
    for lang, n in truth.items():
        assert sums[lang] == n


def test_dedup_cluster_profile_conserves_docs(spark):
    """Σ n_docs over the histogram == corpus size; dropped = docs-clusters."""
    pdf = ent.queries()["llm_dedup_cluster_profile"](spark, SF_SMALL).toPandas()
    n = table(spark, SF_SMALL, "documents").count()
    assert pdf.n_docs.sum() == n
    assert (pdf.n_dropped == pdf.n_docs - pdf.n_clusters).all()


def test_resample_interp_bounded(spark):
    """Interpolated values lie within each user's [min, max] value
    range, and every user's grid is hourly-contiguous."""
    pdf = ent.queries()["ts_resample_interp"](spark, SF_SMALL).toPandas()
    ev = (
        table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .toPandas()
        .set_index("user_id")
    )
    for uid, grp in pdf.groupby("user_id"):
        assert grp.interp.min() >= ev.loc[uid].lo - 1e-6
        assert grp.interp.max() <= ev.loc[uid].hi + 1e-6
        ts = grp.grid_ts.sort_values().reset_index(drop=True)
        gaps = ts.diff().dropna().dt.total_seconds()
        assert (gaps == 3600).all()


def test_pareto_and_abc_conserve_revenue(spark):
    """Decile shares sum to 1; ABC class revenue sums to total."""
    pareto = ent.queries()["sales_pareto"](spark, SF_SMALL).toPandas()
    assert abs(pareto.rev_share.sum() - 1.0) < 1e-4
    assert pareto.n_customers.sum() == table(
        spark, SF_SMALL, "orders"
    ).select("o_custkey").distinct().count()
    abc = ent.queries()["sales_abc"](spark, SF_SMALL).toPandas()
    total = (
        table(spark, SF_SMALL, "orders")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("t"))
        .collect()[0]["t"]
    )
    assert abs(abc.class_rev.sum() - total) < 1.0
    # A-class revenue share must dominate
    rev = abc.set_index("abc").class_rev
    assert rev.get("A", 0) > rev.get("C", 0)


def test_concurrency_bounds(spark):
    """Peak concurrency is positive and never exceeds the number of
    intervals alive that day (events that day + carryover)."""
    pdf = ent.queries()["events_concurrency"](spark, SF_SMALL).toPandas()
    assert (pdf.peak_concurrency >= 1).all()
    n = table(spark, SF_SMALL, "events").count()
    assert (pdf.peak_concurrency <= n).all()
