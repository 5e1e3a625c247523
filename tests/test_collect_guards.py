"""Loud-failure tests for the driver-side query-set collect guards
(VERDICT r7 item 3, r8 item 1): every sim path that collects a
data-dependent query set must raise a clear error past _MAX_Q_COLLECT
instead of silently truncating or OOMing the driver — and the guard
must bound the transfer itself (limit pushed into the collected plan),
not collect-then-count. A static lint walks the whole package so a new
unguarded ``.collect()``, ``.toArrow()`` or ``.toPandas()`` can never
land silently. The return leg is pinned the same way: driver-built rows
become a frame only through ``guarded.local_frame``.
"""

from __future__ import annotations

import pathlib
import re

import pytest

from etl_framework_spark.operators import guarded
from etl_framework_spark.plans import assert_in_plan
from etl_framework_spark.queries import quantize_matryoshka, vector_q

SF_SMALL = "/root/testdata/sf0.001"

_PKG = pathlib.Path(__file__).resolve().parents[1] / "etl_framework_spark"


@pytest.mark.parametrize(
    "impl,name",
    [
        (vector_q.exact_topk, "llm_sim_topk"),
        (vector_q.gemm_topk, "llm_sim_topk_gemm"),
        (vector_q.sq8_topk, "llm_sim_sq8"),
        (quantize_matryoshka.vec_matryoshka, "vec_matryoshka"),
    ],
)
def test_query_collect_guard_raises_loudly(spark, impl, name, monkeypatch):
    monkeypatch.setattr(vector_q, "_MAX_Q_COLLECT", 3)
    with pytest.raises(ValueError, match="_MAX_Q_COLLECT"):
        impl(spark, SF_SMALL)


def test_guard_limit_bounds_the_transfer(spark, monkeypatch):
    """The guard must bound the COLLECT itself — otherwise the guard
    is the OOM it guards against (ADVICE r8). Spy on
    DataFrame.toArrow, the capped-collect transport, at a tiny cap and
    assert no transfer in the guarded path ever carries more than
    _MAX_Q_COLLECT + 1 rows; a collect-then-count regression would
    transfer the full query set (hundreds of rows at sf0.001) and fail
    here."""
    # patch the concrete class — pyspark.sql.DataFrame is the abstract
    # facade in Spark 4 and local sessions run the classic subclass
    from pyspark.sql.classic.dataframe import DataFrame

    collected: list[int] = []
    real_to_arrow = DataFrame.toArrow

    def spy(self):
        table = real_to_arrow(self)
        collected.append(table.num_rows)
        return table

    monkeypatch.setattr(DataFrame, "toArrow", spy)
    monkeypatch.setattr(vector_q, "_MAX_Q_COLLECT", 3)
    for impl in (vector_q.exact_topk, quantize_matryoshka.vec_matryoshka):
        collected.clear()
        with pytest.raises(ValueError, match="_MAX_Q_COLLECT"):
            impl(spark, SF_SMALL)
        assert collected, "guarded path never collected — spy broken?"
        assert max(collected) <= 4, (
            f"guard let {max(collected)} rows cross to the driver at "
            "cap 3 — limit() is not reaching the collect"
        )


_DRIVER_TRANSFERS = (".collect()", ".toArrow()", ".toPandas()")


def test_no_unguarded_collect_in_package() -> None:
    """Registry-wide collect LINT (VERDICT r8 item 1): every
    ``.collect()``, ``.toArrow()`` or ``.toPandas()`` in
    etl_framework_spark must, within the 10 lines above or 2 below,
    either push a ``limit(`` into the collected plan or carry a
    ``bounded`` comment stating why the row count can't grow with the
    data. Adding an unguarded collect anywhere in the package fails
    this test — guards are a lint, not a hand-list."""
    offenders: list[str] = []
    for py in sorted(_PKG.rglob("*.py")):
        lines = py.read_text().splitlines()
        for i, line in enumerate(lines):
            if not any(t in line for t in _DRIVER_TRANSFERS):
                continue
            window = "\n".join(lines[max(0, i - 10) : i + 3])
            if "limit(" in window or "bounded" in window:
                continue
            offenders.append(f"{py.relative_to(_PKG.parent)}:{i + 1}")
    assert not offenders, (
        "unguarded driver transfer — use guarded.collect_capped or add "
        f"a '# bounded: <why>' comment: {offenders}"
    )


def test_arrow_transport_lives_only_in_guarded() -> None:
    """Capped collects go through operators/guarded.collect_capped:
    no other module calls ``.toArrow()`` itself."""
    users = sorted(
        str(py.relative_to(_PKG))
        for py in _PKG.rglob("*.py")
        if ".toArrow()" in py.read_text()
    )
    assert users == ["operators/guarded.py"], users


def test_frame_transport_lives_only_in_guarded() -> None:
    """Driver-built frames go through operators/guarded.local_frame:
    no other module calls ``createDataFrame(`` itself."""
    users = sorted(
        str(py.relative_to(_PKG))
        for py in _PKG.rglob("*.py")
        if "createDataFrame(" in py.read_text()
    )
    assert users == ["operators/guarded.py"], users


# every DDL type the package's local_frame call sites use
_ALL_TYPES = "i int, b bigint, d double, s string, t boolean, a array<double>"


@pytest.mark.parametrize(
    "rows",
    [
        [
            (1, 2**40, 1.5, "x", True, [1.0, None]),
            (None, None, None, None, None, None),
            (-3, 0, -0.25, "", False, []),
        ],
        [],
    ],
    ids=["rows_with_nulls", "zero_rows"],
)
def test_local_frame_equals_create_dataframe(spark, rows) -> None:
    got = guarded.local_frame(spark, rows, _ALL_TYPES)
    want = spark.createDataFrame(rows, _ALL_TYPES)
    assert got.schema == want.schema  # nullability included
    assert got.collect() == want.collect()
    assert_in_plan(got, "LocalTableScan", absent=("ExistingRDD",))


def test_local_frame_above_local_relation_threshold(spark) -> None:
    """Past the threshold the JVM decodes the Arrow batches itself: an
    ``arrow`` RDD scan, still no pickled Python rows."""
    rows = [(i, [float(i)]) for i in range(10)] + [(None, None)]
    spark.conf.set("spark.sql.execution.arrow.localRelationThreshold", "0")
    got = guarded.local_frame(spark, rows, "i int, a array<double>")
    assert_in_plan(
        got, "Scan ExistingRDD arrow", absent=("applySchemaToPythonRDD",)
    )
    want = spark.createDataFrame(rows, "i int, a array<double>")
    assert got.collect() == want.collect()


def test_local_frame_rejects_ragged_rows(spark) -> None:
    with pytest.raises(ValueError):
        guarded.local_frame(spark, [(1, 2), (3,)], "x int, y int")
    with pytest.raises(ValueError):
        guarded.local_frame(spark, [(1, 2, 3)], "x int, y int")


def test_lint_catches_a_planted_offender(tmp_path, monkeypatch) -> None:
    """The lint itself must be able to fail: plant an unguarded
    collect in a scratch tree and assert the same rule flags it."""
    bad = tmp_path / "pkg" / "bad.py"
    bad.parent.mkdir()
    bad.write_text("rows = df.select('x').collect()\n")
    lines = bad.read_text().splitlines()
    flagged = [
        i
        for i, line in enumerate(lines)
        if ".collect()" in line
        and "limit(" not in "\n".join(lines[max(0, i - 10) : i + 3])
        and "bounded" not in "\n".join(lines[max(0, i - 10) : i + 3])
    ]
    assert flagged == [0]
