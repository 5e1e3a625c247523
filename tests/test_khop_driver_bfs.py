"""r12: graph_khop_reach collects the distinct bipartite edge list
under a capped guard and runs BFS in-process. These tests pin the
driver BFS against a brute-force min-level computation on adversarial
graphs: disconnected components, early frontier exhaustion (levels
with zero new nodes must terminate the walk, not emit zero rows), and
the supplier/part side alternation — and the whole key against its
distributed frontier-join fallback."""
import numpy as np

from etl_framework_spark.plans import assert_in_plan
from etl_framework_spark.queries.khop_sessions import (
    _khop_bfs_in_process,
    _K_HOPS,
    graph_khop_reach,
)
from tests.conftest import SF_SMALL


def _brute_levels(edges: list, seed: int) -> list[tuple]:
    """Min-level BFS via plain set expansion over the UNDIRECTED
    bipartite edge list, counting per level like the oracle."""
    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    visited = {seed}
    frontier = {seed}
    out = [(0, 1, 0)]
    for i in range(1, _K_HOPS + 1):
        nxt = set()
        for n in frontier:
            nxt |= adj.get(n, set())
        nxt -= visited
        if not nxt:
            break
        n_sup = sum(1 for n in nxt if n % 2 == 0)
        out.append((i, n_sup, len(nxt) - n_sup))
        visited |= nxt
        frontier = nxt
    return out


def _run(edges: list, seed: int) -> list[tuple]:
    s = np.array([e[0] for e in edges], dtype=np.int64)
    d = np.array([e[1] for e in edges], dtype=np.int64)
    return _khop_bfs_in_process(s, d, seed)


def test_chain_graph_exhausts_early():
    # s0 - p1 - s2 - p3: only 3 hops of frontier exist; level 4 must
    # be absent, not zero
    edges = [(0, 1), (2, 1), (2, 3)]
    got = _run(edges, 0)
    assert got == _brute_levels(edges, 0)
    assert got == [(0, 1, 0), (1, 0, 1), (2, 1, 0), (3, 0, 1)]


def test_disconnected_component_never_reached():
    edges = [(0, 1), (100, 101), (100, 103)]
    got = _run(edges, 0)
    assert got == _brute_levels(edges, 0)
    assert got == [(0, 1, 0), (1, 0, 1)]


def test_isolated_seed_emits_only_level_zero():
    edges = [(100, 101)]
    assert _run(edges, 0) == [(0, 1, 0)]


def test_dense_random_bipartite_matches_brute_force():
    rng = np.random.default_rng(7)
    sup = rng.integers(0, 40, size=400) * 2
    par = rng.integers(0, 60, size=400) * 2 + 1
    edges = sorted({(int(s), int(p)) for s, p in zip(sup, par)})
    seed = int(sup[0])
    assert _run(edges, seed) == _brute_levels(edges, seed)


def test_min_level_semantics_on_diamond():
    # s0 reaches p1 and p3 at level 1; s4 is adjacent to both — its
    # min level is 2 exactly once (no double count)
    edges = [(0, 1), (0, 3), (4, 1), (4, 3), (4, 5)]
    got = _run(edges, 0)
    assert got == _brute_levels(edges, 0)
    assert got == [(0, 1, 0), (1, 0, 2), (2, 1, 0), (3, 0, 1)]


def test_fallback_equals_in_process(spark, force_fallback):
    fast_df = graph_khop_reach(spark, SF_SMALL)
    assert_in_plan(fast_df, absent=("ExistingRDD",))
    fast = sorted(tuple(r) for r in fast_df.collect())
    with force_fallback():
        slow = sorted(
            tuple(r) for r in graph_khop_reach(spark, SF_SMALL).collect()
        )
    assert fast == slow
    assert len(fast) > 1 and fast[0] == (0, 1, 0)
