"""r12: graph_kcore_peel's guarded in-process peel
(queries/calibration_tail.py). The oracle sweep pins the key's
values; these tests pin that the collected peel and the distributed
fallback agree — on real data (by forcing the fallback) and on a
crafted graph where peeling actually removes nodes round by round
(the TPC-H co-supplier graph survives peeling intact, so it never
exercises the shrink path)."""

from __future__ import annotations

import etl_framework_spark.queries.calibration_tail as ct
from etl_framework_spark.plans import assert_in_plan
from tests.conftest import SF_SMALL


def test_fallback_equals_in_process(spark, force_fallback):
    fast = ct.graph_kcore_peel(spark, SF_SMALL)
    assert_in_plan(fast, absent=("ExistingRDD",))
    fast_rows = fast.collect()
    with force_fallback():
        slow_rows = ct.graph_kcore_peel(spark, SF_SMALL).collect()
    assert [tuple(r) for r in fast_rows] == [tuple(r) for r in slow_rows]
    assert len(fast_rows) == ct._PEELS + 1


def test_in_process_peel_shrinks_correctly():
    # 7-clique (degree 6 everywhere, survives k=6 peel) plus a
    # pendant chain that dies in the first round and a 5-star whose
    # center loses its spokes
    clique = [(i, j) for i in range(7) for j in range(i + 1, 7)]
    chain = [(7, 8), (8, 9)]
    star = [(10, k) for k in range(11, 16)]
    rows = ct._peel_in_process(clique + chain + star)
    # round 0: all 16 nodes, 21 + 2 + 5 = 28 edges
    assert rows[0] == (0, 16, 28)
    # after one peel only the clique survives (chain/star degrees < 6)
    assert rows[1] == (1, 7, 21)
    assert rows[2] == (2, 7, 21) and rows[3] == (3, 7, 21)
