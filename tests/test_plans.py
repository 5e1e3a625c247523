"""Golden-plan assertions (SURVEY.md §3.3/§5.4): the optimizer
behavior each query relies on must be visible in the physical plan —
regressions here degrade 100 TB behavior long before sf0.1 notices."""

from __future__ import annotations

import __spark_entry__ as ent
from etl_framework_spark.plans import assert_in_plan
from tests.conftest import SF_SMALL


def _q(spark, key):
    return ent.queries()[key](spark, SF_SMALL)


def test_filter_pushdown_reaches_scan(spark):
    """P2 predicates must reach the parquet reader as PushedFilters."""
    plan = assert_in_plan(_q(spark, "filter_pred"), "PushedFilters: [")
    assert "IsNotNull" in plan or "GreaterThanOrEqual" in plan


def test_column_pruning(spark):
    """P1 projection must prune the scan to the referenced columns."""
    plan = assert_in_plan(_q(spark, "project_expr"), "ReadSchema")
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_shipdate" not in read_schema  # unused column not read
    assert "l_extendedprice" in read_schema


def test_broadcast_join_hint_honored(spark):
    """J5: the dim sides must be broadcast, never sort-merge."""
    assert_in_plan(
        _q(spark, "join_broadcast"), "BroadcastHashJoin", absent=("SortMergeJoin",)
    )


def test_star_join_broadcasts_dims(spark):
    """J10: nation/region ride broadcast exchanges."""
    assert_in_plan(_q(spark, "join_star"), "BroadcastExchange")


def test_topk_plans_take_ordered(spark):
    """O2: ORDER BY + LIMIT must plan as TakeOrderedAndProject
    (per-partition heaps), not a global sort."""
    assert_in_plan(_q(spark, "topk"), "TakeOrderedAndProject", absent=("Sort ",))


def test_no_cartesian_in_range_join(spark):
    """J7: the band join must broadcast the tiny band side (BNLJ over
    broadcast, not a shuffle cartesian)."""
    assert_in_plan(_q(spark, "join_range"), "BroadcastNestedLoopJoin")


def test_partial_aggregation(spark):
    """A1: hash aggregation must run map-side partials (two
    HashAggregate nodes around the exchange)."""
    plan = assert_in_plan(_q(spark, "agg_groupby"), "HashAggregate")
    assert plan.count("HashAggregate") >= 2


def test_window_group_limit_pushdown(spark):
    """W6: Spark pushes rank<=k into the sort (WindowGroupLimit) so
    partitions never hold more than k rows per key."""
    assert_in_plan(_q(spark, "win_topk_group"), "WindowGroupLimit")


def test_q6_all_predicates_pushed(spark):
    """Q6 shape: every filter must reach the parquet scan and the
    read schema must be only the four referenced columns."""
    plan = assert_in_plan(_q(spark, "q6_forecast"), "PushedFilters: [")
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" not in read_schema  # unused columns pruned
    assert "l_discount" in read_schema


def test_q5_dims_broadcast(spark):
    """Q5 shape: nation/region dims ride broadcast exchanges."""
    assert_in_plan(_q(spark, "q5_local"), "BroadcastExchange")


def test_q4_exists_plans_semi_join(spark):
    """Q4 shape: the EXISTS subquery must decorrelate to a semi join
    (no per-row rescans of lineitem)."""
    assert_in_plan(_q(spark, "q4_priority"), "LeftSemi")


def test_q17_correlated_avg_decorrelates(spark):
    """Q17 shape: the correlated per-part AVG must become an
    aggregate joined back on partkey — one pass over lineitem, no
    nested-loop re-evaluation."""
    assert_in_plan(
        _q(spark, "q17_smallqty"),
        "HashAggregate",
        absent=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )


def test_q21_no_rescan_formulation(spark):
    """Q21 shape: the per-order aggregate rewrite must plan as hash
    aggregations + equi-joins only (the whole point of avoiding the
    correlated EXISTS/NOT-EXISTS form at 100 TB)."""
    plan = assert_in_plan(
        _q(spark, "q21_waiting"),
        "HashAggregate",
        absent=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )
    assert plan.count("HashAggregate") >= 4  # two partial+final agg pairs


def test_partitioned_sink_static_pruning(spark, tmp_path):
    """S5 at scale: a partitionBy-written dataset filtered on the
    partition column must prune at planning time (PartitionFilters),
    never scan-and-discard."""
    from etl_framework_spark.catalog import table
    from etl_framework_spark.plans import explain_str

    path = str(tmp_path / "li_by_flag")
    table(spark, SF_SMALL, "lineitem").write.mode("overwrite").partitionBy(
        "l_returnflag"
    ).parquet(path)
    df = spark.read.parquet(path).filter("l_returnflag = 'R'")
    plan = explain_str(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "l_returnflag" in pf[0]
    # the predicate is consumed by pruning, not re-checked per row
    data_filters = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert all("l_returnflag" not in ln for ln in data_filters)


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """DPP: joining a partitioned fact to a filtered dim must inject a
    runtime pruning subquery on the fact scan — the mechanism that
    keeps a 100 TB star-join from reading every partition."""
    from etl_framework_spark.catalog import table
    from etl_framework_spark.plans import explain_str

    path = str(tmp_path / "orders_by_status")
    table(spark, SF_SMALL, "orders").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(path)
    fact = spark.read.parquet(path)
    # NB: a constant dim predicate (status = 'F') is propagated through
    # the join at compile time — static pruning, no DPP needed. A
    # non-foldable predicate (aggregate HAVING) forces the runtime
    # pruning subquery.
    dim = table(spark, SF_SMALL, "orders").groupBy("o_orderstatus").count().filter(
        "count > 400"
    )
    joined = fact.join(dim, "o_orderstatus")
    assert "dynamicpruning" in explain_str(joined).lower()


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Scale technique: with a selective dim-side filter on a shuffle
    join, Spark can inject a runtime Bloom filter that drops fact rows
    before the shuffle (row-level runtime filtering — the 100 TB lever
    when broadcast is off the table). Pin the thresholds and assert the
    bloom_filter_agg / might_contain pair lands in the plan."""
    from pyspark.sql import functions as F

    from etl_framework_spark.plans import explain_str

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .count()
    )
    plan = explain_str(j)
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan


def test_aqe_splits_skewed_join(spark):
    """Scale technique: AQE detects a hot shuffle partition (one key
    holding 95% of rows) and splits it across tasks — the runtime
    answer to key skew when salting isn't wired in. Assert the final
    adaptive plan marks the join skew=true and the shuffle read
    skewed."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    hot = spark.range(200_000).select(F.lit(0).alias("k"), F.col("id").alias("v"))
    cold = spark.range(10_000).select(
        (F.col("id") % 100 + 1).alias("k"), F.col("id").alias("v")
    )
    right = spark.range(101).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
    j = hot.union(cold).join(right, "k")
    assert len(j.collect()) == 210_000  # same result, split execution
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan
    assert "skewed" in plan  # AQEShuffleRead ... skewed


def test_shuffle_hash_hint_honored(spark):
    """Join-strategy control: the SHUFFLE_HASH hint must produce a
    ShuffledHashJoin (no sort phase — the right call when one side is
    modest but above the broadcast threshold and sorting would
    dominate)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet").hint("shuffle_hash")
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey", "o_totalprice"
    )
    assert_in_plan(j, "ShuffledHashJoin", absent=("SortMergeJoin",))


def test_feat_scale_broadcasts_moments(spark):
    """Batch 9: the |brands|-row moment table must broadcast back onto
    the part facts — a shuffle join here would re-shuffle the fact
    side for a 25-row dimension."""
    assert_in_plan(_q(spark, "feat_scale"), "BroadcastHashJoin")


def test_dedup_incremental_no_cartesian(spark):
    """Batch 7: delta-vs-corpus dedup must stay an equi-join on the
    content hash (no nested-loop / cartesian fallback)."""
    assert_in_plan(
        _q(spark, "llm_dedup_incremental"),
        "Join",
        absent=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )


def test_diag_skew_partial_aggregates(spark):
    """Ops: the per-key count must partially aggregate map-side (the
    diagnostic has to be immune to the very skew it measures) and the
    top-10 must plan as TakeOrdered, not a global sort."""
    plan = assert_in_plan(_q(spark, "diag_skew"), "TakeOrderedAndProject")
    assert "partial_count" in plan or "HashAggregate" in plan


def test_substr_dedup_prunes_text_after_hash(spark):
    """Batch 6: the global window-frequency shuffle must carry only
    the md5 hash column — window text must not survive into the
    exchange that feeds the frequency aggregate."""
    df = _q(spark, "llm_dedup_substr")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # The aggregate over gram hashes groups by the md5 output column,
    # not by a raw token-array or text column.
    assert "md5" in plan
    exchange_lines = [
        ln for ln in plan.splitlines() if "hashpartitioning(" in ln
    ]
    assert exchange_lines, "expected at least one hash exchange in the plan"
    assert all("toks" not in ln for ln in exchange_lines)
