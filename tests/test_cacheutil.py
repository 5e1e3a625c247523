"""Tracked-persist registry (ADVICE r10 item 4).

Every persist() in the package routes through
cacheutil.persist_tracked so a library caller composing several query
functions in one session can drop all pinned blocks with one call —
the same discipline the tools' sweep loops get from release_all.
"""

from __future__ import annotations

import pathlib
import re

from pyspark import StorageLevel

from etl_framework_spark import cacheutil
from tests.conftest import ROOT

PKG = ROOT / "etl_framework_spark"


def test_persist_tracked_registers_and_releases(spark):
    cacheutil.release_tracked()  # clean slate
    df = spark.range(100).transform(cacheutil.persist_tracked)
    assert df.storageLevel != StorageLevel.NONE
    assert cacheutil.tracked_count() == 1
    assert df.count() == 100
    released = cacheutil.release_tracked()
    assert released == 1
    assert cacheutil.tracked_count() == 0
    assert df.storageLevel == StorageLevel.NONE


def test_release_tracked_survives_dead_handles(spark):
    cacheutil.release_tracked()
    df = spark.range(10).transform(cacheutil.persist_tracked)
    df.unpersist(False)  # caller already released it by hand
    assert cacheutil.release_tracked() >= 0  # must not raise
    assert cacheutil.tracked_count() == 0


def test_release_all_clears_jvm_persistent_rdds(spark):
    cacheutil.release_tracked()
    spark.range(50).transform(cacheutil.persist_tracked).count()
    spark.range(60).persist().count()  # untracked, raw API
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert len(jmap) >= 2
    cacheutil.release_all(spark)
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
    assert cacheutil.tracked_count() == 0


def test_query_functions_drain_through_registry(spark):
    """Run two persist-using query keys back-to-back the way a library
    caller would, then drain — no pinned blocks may remain."""
    from etl_framework_spark.queries.lsh_calibration import llm_lsh_calibration
    from etl_framework_spark.queries.pca_q import vec_pca_power

    cacheutil.release_all(spark)
    sf = "/root/testdata/sf0.001"
    assert llm_lsh_calibration(spark, sf).count() > 0
    assert vec_pca_power(spark, sf).count() > 0
    assert cacheutil.tracked_count() >= 2  # both keys registered
    cacheutil.release_all(spark)
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0


def test_no_bare_persist_in_package() -> None:
    """Lint: every persist() in the package must go through the
    registry (``.transform(persist_tracked)``) so release_tracked
    actually covers the package. cacheutil.py itself is the one
    allowed ``df.persist()`` call site."""
    offenders = []
    for py in PKG.rglob("*.py"):
        if py.name == "cacheutil.py":
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if re.search(r"\.persist\(", line) and "persist_tracked" not in line:
                offenders.append(f"{py}:{i}: {line.strip()}")
    assert not offenders, "bare persist() outside cacheutil:\n" + "\n".join(offenders)
