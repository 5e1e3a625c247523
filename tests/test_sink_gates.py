"""Validated sink writes: `validate` steps fused into their sink's write,
and write–audit–publish for every gated file sink (a rejected write
leaves the target as it was)."""

from __future__ import annotations

import os
import uuid

import pytest

from etl_framework_spark.pipeline import Pipeline, ValidationError, run_pipeline
from tests.conftest import SF_SMALL


def _rows(spark, path: str) -> int:
    return spark.read.parquet(path).count()


def _leftovers(parent) -> list[str]:
    return [n for n in os.listdir(parent) if ".staging-" in n or ".replaced-" in n]


def _range_job(n: int, target: str, checks: list, *, fused: bool, **sink) -> dict:
    """`n` rows of spark.range written as parquet, with `checks` either
    on a validate step (fused into the sink) or on the sink itself."""
    spec = {
        "sources": {},
        "steps": [{"name": "rows", "sql": f"SELECT id, id % 7 AS part FROM range({n})"}],
        "sinks": [{"input": "rows", "format": "parquet", "path": target, **sink}],
    }
    if fused:
        spec["steps"].append(
            {"name": "checked", "input": "rows", "op": "validate", "args": {"checks": checks}}
        )
        spec["sinks"][0]["input"] = "checked"
    else:
        spec["sinks"][0]["validate"] = checks
    return spec


def test_cluster_by_sink_validate_counts_each_row_once(spark, tmp_path):
    """repartitionByRange samples its input in a separate job; the
    observation sits above the shuffle, so that job is not counted."""
    target = str(tmp_path / "clustered")
    exact = [{"type": "row_count", "min": 50_000, "max": 50_000}]
    run_pipeline(
        spark, _range_job(50_000, target, exact, fused=False, cluster_by=["id"])
    )
    assert _rows(spark, target) == 50_000


def test_sink_validate_ignore_mode_skips_existing_target(spark, tmp_path):
    target = str(tmp_path / "kept")
    spark.range(5).write.parquet(target)
    gate = [{"type": "row_count", "min": 1}]
    run_pipeline(spark, _range_job(100, target, gate, fused=False, mode="ignore"))
    assert _rows(spark, target) == 5
    fresh = str(tmp_path / "fresh")
    run_pipeline(spark, _range_job(100, fresh, gate, fused=False, mode="ignore"))
    assert _rows(spark, fresh) == 100


@pytest.mark.parametrize("fused", [True, False], ids=["fused_step", "sink_validate"])
@pytest.mark.parametrize("mode", ["overwrite", "append"])
def test_failed_gate_keeps_prior_output(spark, tmp_path, fused, mode):
    target = str(tmp_path / "out")
    spark.range(5).selectExpr("id", "id % 7 AS part").write.parquet(target)
    spec = _range_job(
        50_000, target, [{"type": "row_count", "max": 5}], fused=fused, mode=mode
    )
    prefix = "" if fused else "sink 'rows': "
    with pytest.raises(ValidationError, match=f"^{prefix}row_count: 50000 > max 5$"):
        run_pipeline(spark, spec)
    assert _rows(spark, target) == 5
    assert _leftovers(tmp_path) == []


@pytest.mark.parametrize("fused", [True, False], ids=["fused_step", "sink_validate"])
def test_passing_gate_publishes_by_mode(spark, tmp_path, fused):
    target = str(tmp_path / "out")
    gate = [{"type": "row_count", "min": 1}, {"type": "not_null", "columns": ["id"]}]

    def run(mode: str, n: int) -> None:
        run_pipeline(
            spark, _range_job(n, target, gate, fused=fused, mode=mode, partition_by=["part"])
        )

    run("overwrite", 70)  # target absent: the staging dir becomes it
    run("overwrite", 14)  # replaces every partition
    assert _rows(spark, target) == 14
    run("append", 70)  # files move in under their partition subpaths
    df = spark.read.parquet(target)
    assert df.count() == 84
    assert df.filter("part = 3").count() == 12
    with pytest.raises(FileExistsError):
        run("errorifexists", 7)
    assert _rows(spark, target) == 84
    assert _leftovers(tmp_path) == []


def test_gated_dynamic_partition_overwrite_replaces_only_written_partitions(spark, tmp_path):
    target = str(tmp_path / "out")
    spark.range(70).selectExpr("id", "id % 7 AS part").write.partitionBy("part").parquet(target)
    spec = _range_job(
        7, target, [{"type": "row_count", "min": 1}], fused=False,
        partition_by=["part"], options={"partitionOverwriteMode": "dynamic"},
    )
    spec["steps"][0]["sql"] = "SELECT 100 + id AS id, 3 AS part FROM range(7)"
    run_pipeline(spark, spec)
    df = spark.read.parquet(target)
    assert df.count() == 60 + 7
    assert sorted(r.id for r in df.filter("part = 3").collect()) == list(range(100, 107))


# -- the fusion rule ----------------------------------------------------------

_CHECKS = [
    {"type": "row_count", "min": 1},
    {"type": "not_null", "columns": ["nation", "revenue"]},
    {"type": "expression", "expr": "revenue >= 0 AND qty BETWEEN 1 AND 50"},
    {
        "type": "accepted_values",
        "column": "segment",
        "values": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
    },
]


def _order_facts(out: str, checks: list = _CHECKS) -> dict:
    """The star join orders x lineitem x customer x nation, validated by
    a step and written as parquet partitioned by order year."""
    src = {
        t: {"format": "parquet", "path": f"{SF_SMALL}/{t}.parquet"}
        for t in ("orders", "lineitem", "customer", "nation")
    }
    return {
        "sources": src,
        "steps": [
            {
                "name": "facts",
                "sql": """
                    SELECT o.o_orderkey, l.l_linenumber, n.n_name AS nation,
                           c.c_mktsegment AS segment, year(o.o_orderdate) AS o_year,
                           CAST(l.l_quantity AS INT) AS qty,
                           CAST(l.l_extendedprice AS DECIMAL(12, 2))
                             * (1 - CAST(l.l_discount AS DECIMAL(4, 2))) AS revenue
                    FROM orders o
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                    JOIN customer c ON c.c_custkey = o.o_custkey
                    JOIN nation n   ON n.n_nationkey = c.c_nationkey
                    WHERE o.o_orderdate >= timestamp '1996-01-01'""",
            },
            {"name": "checked", "input": "facts", "op": "validate", "args": {"checks": checks}},
        ],
        "sinks": [
            {
                "input": "checked",
                "format": "parquet",
                "mode": "overwrite",
                "path": out,
                "partition_by": ["o_year"],
            }
        ],
    }


def _jobs(spark, spec: dict) -> int:
    sc = spark.sparkContext
    group = f"fusion-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run_pipeline(spark, spec)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_fused_validate_step_launches_fewer_jobs(spark, tmp_path):
    fused = _order_facts(str(tmp_path / "fused"))
    eager = _order_facts(str(tmp_path / "eager"))
    # an unused later SQL reference keeps the step eager, same work otherwise
    eager["steps"].append({"name": "later", "sql": "SELECT * FROM checked"})
    assert Pipeline(fused)._fused_validations() == {"checked": _CHECKS}
    assert Pipeline(eager)._fused_validations() == {}
    n_eager, n_fused = _jobs(spark, eager), _jobs(spark, fused)
    assert n_fused < n_eager, (n_fused, n_eager)
    a = spark.read.parquet(str(tmp_path / "fused"))
    b = spark.read.parquet(str(tmp_path / "eager"))
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0


def _eager_variant(kind: str, out: str) -> dict:
    spec = _order_facts(out, [*_CHECKS, {"type": "row_count", "max": 5}])
    steps, sinks = spec["steps"], spec["sinks"]
    if kind == "unique":
        steps[1]["args"]["checks"].append({"type": "unique", "columns": ["o_orderkey"]})
    elif kind == "two_consumers":
        sinks.append({**sinks[0], "path": out + "_2"})
    elif kind == "later_sql":
        steps.append({"name": "later", "sql": "SELECT count(*) FROM Checked"})
    elif kind == "view_sink":
        sinks[0] = {"input": "checked", "format": "view", "name": f"v_{uuid.uuid4().hex}"}
    elif kind == "earlier_sink":
        sinks.insert(0, {"input": "facts", "format": "parquet", "path": out + "_raw"})
    elif kind == "later_materialize":
        steps.append(
            {"name": "later", "input": "facts", "op": "filter",
             "args": {"condition": "qty > 0"}, "materialize": out + "_mat"}
        )
    return spec


@pytest.mark.parametrize(
    "kind",
    ["unique", "two_consumers", "later_sql", "view_sink", "earlier_sink", "later_materialize"],
)
def test_unfusable_validate_steps_stay_eager(spark, tmp_path, kind):
    out = str(tmp_path / "out")
    spec = _eager_variant(kind, out)
    assert Pipeline(spec)._fused_validations() == {}
    with pytest.raises(ValidationError, match=r"row_count: \d+ > max 5"):
        run_pipeline(spark, spec)
    assert os.listdir(tmp_path) == []  # raised before any write


_CHECK_CASES = {
    "row_count": ({"type": "row_count", "min": 20}, "row_count: 10 < min 20"),
    "not_null": ({"type": "not_null", "columns": ["v"]}, "not_null(v): 3 null rows"),
    "unique": ({"type": "unique", "columns": ["k"]}, "unique(k): 6 duplicate rows"),
    "accepted_values": (
        {"type": "accepted_values", "column": "k", "values": [0, 1]},
        "accepted_values(k): 4 rows outside [0, 1]",
    ),
    "expression": ({"type": "expression", "expr": "id < 8"}, "expression(id < 8): 2 violating rows"),
}


@pytest.mark.parametrize(
    "kind,where",
    [(k, w) for k in _CHECK_CASES for w in ("eager_step", "fused_step", "sink_validate")
     if k != "unique" or w == "eager_step"],
)
def test_each_check_type_fails_with_its_message(spark, tmp_path, kind, where):
    """Every check type gives the same ValidationError text whether it
    runs as an eager step, fused into its sink's write, or on the sink;
    only the sink form prefixes the sink's input."""
    check, message = _CHECK_CASES[kind]
    sql = "SELECT id, IF(id < 3, NULL, id) AS v, id % 4 AS k FROM range(10)"
    validate = {"name": "checked", "input": "rows", "op": "validate", "args": {"checks": [check]}}
    sink = {"input": "rows", "format": "parquet", "path": str(tmp_path / "out")}
    spec = {"sources": {}, "steps": [{"name": "rows", "sql": sql}], "sinks": []}
    if where == "eager_step":
        spec["steps"].append(validate)
    elif where == "fused_step":
        spec["steps"].append(validate)
        spec["sinks"].append({**sink, "input": "checked"})
        assert Pipeline(spec)._fused_validations() == {"checked": [check]}
    else:
        spec["sinks"].append({**sink, "validate": [check]})
        message = "sink 'rows': " + message
    with pytest.raises(ValidationError) as exc:
        run_pipeline(spark, spec)
    assert str(exc.value) == message
