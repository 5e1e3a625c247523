"""Golden-plan regression diffs (SURVEY §3.3, VERDICT r5 item 5).

artifacts/plans/<key>.txt holds the normalized formatted physical plan
of every registry key, captured at sf0.01 by tools/capture_plans.py.
Partition counts are normalized away (they follow the session's core
count), so the goldens hold at any `local[N]`.
This test re-derives the plan for the headline + scale-critical keys
and diffs against the committed golden — a silent de-optimization
(broadcast -> SMJ, lost pushdown, new shuffle) fails here before it
shows up in bench numbers. The FULL 612-key sweep is
`python tools/capture_plans.py --verify` (run per-round; ~3 min).

To accept an intentional plan change: `python tools/capture_plans.py
--only <key>` re-snapshots it.
"""

from __future__ import annotations

import os
from pathlib import Path

import pytest

import __spark_entry__ as ent
from etl_framework_spark.plans import explain_str, golden_form, normalize_plan

PLANS_DIR = str(Path(__file__).resolve().parents[1] / "artifacts" / "plans")
SF_GOLDEN = "/root/testdata/sf0.01"  # goldens are captured at sf0.01

# headline bench keys + the keys whose plans ARE the scale story
PINNED = [
    "agg_groupby", "join_star", "win_topk_group", "topk", "fn_string",
    "stream_tumbling", "stream_session", "join_asof", "llm_dedup_exact",
    "llm_dedup_minhash", "llm_sim_topk", "llm_sim_topk_gemm",
    "llm_text_stats", "join_broadcast", "join_range_bucketed",
    "vec_two_nn_dim", "vec_hubness", "llm_source_similarity_matrix",
    "llm_dedup_jaccard", "llm_dedup_simhash", "agg_rollup", "agg_pivot",
    "win_running_sum", "set_union", "join_interval",
]


@pytest.mark.parametrize("key", PINNED)
def test_plan_matches_golden(spark, key: str) -> None:
    golden_path = os.path.join(PLANS_DIR, f"{key}.txt")
    assert os.path.exists(golden_path), f"no golden for {key}; run capture_plans"
    with open(golden_path) as f:
        golden = f.read()
    # cache substitution from earlier tests' persists would otherwise
    # inject InMemoryTableScan nodes into this key's plan
    spark.catalog.clearCache()
    fresh = golden_form(key, explain_str(ent.queries()[key](spark, SF_GOLDEN)))
    assert fresh == golden, (
        f"physical plan for {key} changed vs artifacts/plans/{key}.txt — "
        f"if intentional, re-snapshot with tools/capture_plans.py --only {key}"
    )


def test_normalize_plan_strips_partition_counts_only() -> None:
    """Session-derived partition counts and executed stage statistics
    normalize to x; numbers inside the partitioning expressions and
    elsewhere in the plan stay, and the rules are idempotent."""
    plan = (
        "Arguments: hashpartitioning(substring(h#1, 1, 4), 32), ENSURE_REQUIREMENTS, [plan_id=7]\n"
        "Arguments: rangepartitioning(k#2 ASC NULLS FIRST, 8), ENSURE_REQUIREMENTS, [plan_id=8]\n"
        "Arguments: RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=9]\n"
        "Arguments: Range (0, 64, step=1, splits=Some(32))\n"
        "+- ShuffleQueryStage (3), Statistics(sizeInBytes=21.3 KiB, rowCount=681)\n"
        "Arguments: 100, [k#2 ASC NULLS FIRST]\n"
    )
    want = (
        "Arguments: hashpartitioning(substring(h#x, 1, 4), x), ENSURE_REQUIREMENTS, [plan_id=x]\n"
        "Arguments: rangepartitioning(k#x ASC NULLS FIRST, x), ENSURE_REQUIREMENTS, [plan_id=x]\n"
        "Arguments: RoundRobinPartitioning(x), REPARTITION_BY_NUM, [plan_id=x]\n"
        "Arguments: Range (0, 64, step=1, splits=Some(x))\n"
        "+- ShuffleQueryStage (3), Statistics(x)\n"
        "Arguments: 100, [k#x ASC NULLS FIRST]\n"
    )
    assert normalize_plan(plan) == want
    assert normalize_plan(want) == want
