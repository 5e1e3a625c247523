"""CDC operator tests: SCD2 invariants + merge-upsert semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as ent
from etl_framework_spark.operators.cdc import merge_upsert, scd2_apply
from tests.conftest import SF_SMALL


def test_merge_upsert(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    source = spark.createDataFrame([(2, "B"), (3, "C")], "k int, v string")
    got = {(r.k, r.v) for r in merge_upsert(target, source, "k").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "C")}


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "k int, v string, eff_from timestamp, eff_to timestamp"
    )


def test_scd2_invariants(spark):
    out = ent.queries()["cdc_scd2"](spark, SF_SMALL)
    # exactly one current (NULL eff_to) row per key
    cur_per_key = (
        out.filter(F.col("eff_to").isNull()).groupBy("c_custkey").count()
    )
    assert cur_per_key.filter(F.col("count") != 1).count() == 0
    # every closed row's interval precedes its key's current row
    closed = out.filter(F.col("eff_to").isNotNull())
    bad = closed.filter(F.col("eff_to") < F.col("eff_from")).count()
    assert bad == 0


def test_scd2_idempotent_and_noop(spark):
    import datetime as dt

    t0 = dt.datetime(2020, 1, 1)
    dim = _mk(spark, [(1, "a", t0, None), (2, "b", t0, None)])
    same = spark.createDataFrame([(1, "a")], "k int, v string")
    ts = F.lit("2021-01-01").cast("timestamp")
    # identical update -> no change at all
    out = scd2_apply(dim, same, "k", ["v"], ts)
    assert sorted(map(str, out.collect())) == sorted(map(str, dim.collect()))
    # real change closes + opens exactly once
    upd = spark.createDataFrame([(1, "a2"), (3, "c")], "k int, v string")
    out2 = scd2_apply(dim, upd, "k", ["v"], ts)
    rows = {(r.k, r.v, r.eff_to is None) for r in out2.collect()}
    assert (1, "a", False) in rows and (1, "a2", True) in rows
    assert (3, "c", True) in rows and (2, "b", True) in rows
    assert out2.count() == 4


def test_scd2_chained_batches_plan_one_join_each(spark):
    """N chained batches optimize to exactly N joins, one full outer
    join per batch: each batch reads the dimension once, so the plan
    grows linearly instead of multiplying per batch."""
    import datetime as dt

    dim = _mk(spark, [(0, "v0", dt.datetime(2000, 1, 1), None)])
    for n in range(1, 5):
        upd = spark.createDataFrame([(0, f"v{n}"), (n, "new")], "k int, v string")
        dim = scd2_apply(dim, upd, "k", ["v"], F.lit(f"200{n}-01-01").cast("timestamp"))
        plan = dim._jdf.queryExecution().optimizedPlan().toString()
        joins = [ln for ln in plan.splitlines() if ln.lstrip(" :+-").startswith("Join ")]
        assert len(joins) == n, plan
        assert all("FullOuter" in ln for ln in joins), plan
    current = {r.k: r.v for r in dim.collect() if r.eff_to is None}
    assert current == {0: "v4", 1: "new", 2: "new", 3: "new", 4: "new"}
