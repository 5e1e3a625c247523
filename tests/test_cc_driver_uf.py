"""r12: connected_components collects the edge list under a capped
guard and union-finds in-process; above the cap it keeps the
distributed label-propagation fixpoint. Pin (a) the two paths against
each other on adversarial graphs and on llm_dedup_cc at sf0.001 and
(b) the pure union-find helper against brute-force reachability."""
import pytest

from etl_framework_spark.operators import graph as G
from etl_framework_spark.plans import assert_in_plan
from tests.conftest import SF_SMALL


def _brute(edges: list) -> dict:
    nodes = {n for e in edges for n in e}
    comp = {n: n for n in nodes}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            m = min(comp[a], comp[b])
            if comp[a] != m or comp[b] != m:
                comp[a] = comp[b] = m
                changed = True
    return comp


@pytest.mark.parametrize(
    "edges",
    [
        [(2, 1), (3, 2), (4, 3)],                      # chain
        [(10, 1), (10, 2), (20, 21), (5, 5)],          # star + pair + loop
        [(1, 2), (3, 4), (2, 3), (100, 4)],            # late merge
        [(7, 7)],                                      # pure self-loop
    ],
)
def test_uf_matches_brute_force(edges):
    got = dict(G._uf_components([a for a, _ in edges], [b for _, b in edges]))
    assert got == _brute(edges)


def test_driver_and_distributed_paths_agree(spark, force_fallback):
    edges = [(2, 1), (3, 2), (9, 8), (4, 3), (7, 9), (11, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    fast_df = G.connected_components(df)
    assert_in_plan(fast_df, absent=("ExistingRDD",))
    fast = {r.node: r.component for r in fast_df.collect()}
    with force_fallback():
        slow = {r.node: r.component for r in G.connected_components(df).collect()}
    assert fast == slow
    assert fast == _brute(edges)


def test_dedup_cc_fallback_equals_in_process(spark, force_fallback):
    from etl_framework_spark.queries.llm import llm_dedup_cc

    fast = sorted(tuple(r) for r in llm_dedup_cc(spark, SF_SMALL).collect())
    with force_fallback():
        slow = sorted(tuple(r) for r in llm_dedup_cc(spark, SF_SMALL).collect())
    assert fast == slow
    assert any(not keep for _, _, keep in fast), "no near-dup merged"


def test_empty_edge_list_yields_empty_frame(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert G.connected_components(df).collect() == []


def test_null_endpoints_are_dropped_on_both_paths(spark, force_fallback):
    edges = [(2, 1), (3, None), (None, 4), (None, None), (5, 3), (6, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = {r.node: r.component for r in G.connected_components(df).collect()}
    with force_fallback():
        slow = {r.node: r.component for r in G.connected_components(df).collect()}
    want = _brute([e for e in edges if None not in e])
    assert fast == slow == want
