"""Bucketing (SURVEY.md §4 / guide 'Partitioning & shuffle'): tables
written with bucketBy on the join key must join WITHOUT a shuffle on
either side — the co-location strategy for repeated big-big joins at
100 TB (pay one write-side shuffle, amortize over every later join)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.plans import explain_str
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    import shutil

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # the in-memory catalog forgets tables between sessions but the
    # managed locations persist — clear them or saveAsTable refuses
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    (
        table(spark, SF_SMALL, "orders")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("b_orders")
    )
    (
        table(spark, SF_SMALL, "lineitem")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("b_lineitem")
    )
    yield
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    o = spark.table("b_orders")
    li = spark.table("b_lineitem")
    # tiny sf0.001 tables would broadcast (also shuffle-free, but that
    # proves nothing about bucketing) — force the bucketed-scan path
    # the way a big-big join at scale would take it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").count()
    plan = explain_str(j)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    # and it still returns the right answer
    got = {r.o_orderstatus: r["count"] for r in j.collect()}
    want = {
        r.o_orderstatus: r["count"]
        for r in table(spark, SF_SMALL, "lineitem")
        .join(
            table(spark, SF_SMALL, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .count()
        .collect()
    }
    assert got == want


def test_foreach_batch_sink(spark, tmp_path):
    """S9/T8: foreachBatch drives an arbitrary batch sink with epoch
    ids — counts must cover the whole replayed input exactly once."""
    from etl_framework_spark.streaming import replay_events  # noqa: F401
    from etl_framework_spark.streaming.harness import events_stream

    seen: dict[int, int] = {}

    def sink(df, epoch_id: int):
        seen[epoch_id] = df.count()

    # fresh checkpoint per run: a reused checkpoint makes AvailableNow
    # see zero new files and deliver zero batches
    ckpt = str(tmp_path / "fb_ckpt")
    q = (
        events_stream(spark, SF_SMALL)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    total = sum(seen.values())
    assert total == table(spark, SF_SMALL, "events").count()
