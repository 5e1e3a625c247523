"""Invariant tests for batch 17 (hamming ANN, cross-corr, hapax)."""

from __future__ import annotations

import __spark_entry__ as ent
from etl_framework_spark.catalog import table
from tests.conftest import SF_SMALL


def test_hamming_topk_shape_and_bounds(spark):
    rows = ent.queries()["vec_sim_hamming"](spark, SF_SMALL).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert 0 <= r.hamming <= 64
        assert r.vid != r.qid
        by_q.setdefault(r.qid, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        # distances non-decreasing with rank
        ds = [r.hamming for r in rs]
        assert ds == sorted(ds)
        assert len(rs) <= 10


def test_hamming_agrees_with_cosine_direction(spark):
    """Low Hamming distance should imply higher-than-random cosine:
    compare mean cosine of hamming-top-1 neighbors vs a fixed far
    pair — sanity that sign bits preserve geometry."""
    import math

    rows = ent.queries()["vec_sim_hamming"](spark, SF_SMALL).collect()
    top1 = {r.qid: r.vid for r in rows if r.rnk == 1}
    emb = {
        r.vec_id: r.embedding
        for r in table(spark, SF_SMALL, "embeddings").collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    sims = [cos(emb[q], emb[v]) for q, v in top1.items()]
    assert sum(sims) / len(sims) > 0.0  # better than orthogonal on average


def test_cross_corr_symmetric_lag_structure(spark):
    rows = ent.queries()["ts_cross_corr"](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert -1.0 - 1e-9 <= r.xcorr <= 1.0 + 1e-9
        assert -3 <= r.lag <= 3
        assert r.type_a < r.type_b
        assert r.n_days >= 2
    # lag 0 exists for every pair present
    pairs = {(r.type_a, r.type_b) for r in rows}
    zero = {(r.type_a, r.type_b) for r in rows if r.lag == 0}
    assert pairs == zero


def test_hapax_ratios_bounded(spark):
    rows = ent.queries()["llm_hapax_ratio"](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.n_hapax <= r.vocab_size <= r.n_tokens
        assert 0.0 <= r.hapax_ratio <= 1.0
        assert 0.0 < r.type_token_ratio <= 1.0
