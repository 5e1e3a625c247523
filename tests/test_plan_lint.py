"""Plan-lint coverage: the lint rules must FIRE on genuinely bad
plans (negative tests) and stay clean on a representative slice of
the contract registry (the full 218-key run is tools/plan_lint.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as ent
from etl_framework_spark.plans import explain_str
from tools.plan_lint import lint_plan
from tests.conftest import SF_SMALL

# one key per family: join shapes, windows, LLM ops, streaming batch twins
REPRESENTATIVE = [
    "agg_groupby", "join_star", "join_asof", "join_range", "win_topk_group",
    "topk", "llm_dedup_minhash", "llm_dedup_winnow", "llm_sim_topk",
    "stream_session", "events_attribution", "orders_skyline", "basket_lift",
    "pipeline_curation", "scd2_asof_lookup", "q21_waiting", "fn_string",
]


def test_representative_queries_lint_clean(spark):
    qs = ent.queries()
    bad = {}
    for key in REPRESENTATIVE:
        finds = lint_plan(key, explain_str(qs[key](spark, SF_SMALL)))
        if finds:
            bad[key] = finds
    assert not bad, bad


def test_lint_fires_on_python_udf(spark):
    from pyspark.sql.types import DoubleType

    slow = F.udf(lambda x: x * 2.0, DoubleType())
    df = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        slow(F.col("l_discount")).alias("d2")
    )
    finds = lint_plan("not_allowlisted", explain_str(df))
    assert any("R2" in f for f in finds)


def test_lint_fires_on_cartesian(spark):
    a = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    b = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    df = a.crossJoin(b).select("o_orderkey", "c_custkey")
    finds = lint_plan("not_allowlisted", explain_str(df))
    assert any("R1" in f for f in finds)


def test_lint_fires_on_global_window_over_fact(spark):
    from pyspark.sql import Window as W

    df = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").withColumn(
        "rn", F.row_number().over(W.orderBy("l_extendedprice"))
    )
    finds = lint_plan("not_allowlisted", explain_str(df))
    assert any("R4" in f for f in finds)


def test_lint_fires_on_unpruned_wide_scan(spark):
    df = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    finds = lint_plan("not_allowlisted", explain_str(df))
    assert any("R3" in f for f in finds)


def test_r3_anchors_to_the_lineitem_scan_node():
    """A wide scan of ANOTHER table must not be misattributed to
    lineitem just because lineitem appears elsewhere in the plan."""
    wide = ",".join(f"c{i}:bigint" for i in range(12))
    other_wide_lineitem_narrow = f"""(1) Scan parquet
Location: InMemoryFileIndex [file:/x/orders.parquet]
ReadSchema: struct<{wide}>

(2) Scan parquet
Location: InMemoryFileIndex [file:/x/lineitem.parquet]
ReadSchema: struct<a:bigint,b:bigint>
"""
    assert lint_plan("somekey", other_wide_lineitem_narrow) == []
    lineitem_wide = f"""(1) Scan parquet
Location: InMemoryFileIndex [file:/x/lineitem.parquet]
ReadSchema: struct<{wide}>
"""
    assert any("R3" in f for f in lint_plan("somekey", lineitem_wide))


def test_r5_exempts_cross_type_bnlj_both_build_sides():
    for side in ("BuildLeft", "BuildRight"):
        cross = f"(3) BroadcastNestedLoopJoin {side}, Cross\n"
        assert lint_plan("somekey", cross) == []
        inner = f"(3) BroadcastNestedLoopJoin {side}, Inner, (a < b)\n"
        assert any("R5" in f for f in lint_plan("somekey", inner))
