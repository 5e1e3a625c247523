"""Plan lint — audit every contract query's physical plan for scale
antipatterns (SURVEY.md §4, SCALE.md principles), the systematic form
of the per-query golden-plan tests.

Rules (each returns a finding string or None):
  R1 cartesian      CartesianProduct anywhere — a corpus-squared scan at
                    100 TB. Allowlist: queries whose SEMANTICS are a
                    cross product over bounded inputs.
  R2 python_udf     Row-at-a-time BatchEvalPython in the plan.
                    Allowlist: the X1 API-parity key only.
  R3 scan_no_prune  A lineitem/orders parquet scan reading every column
                    of the table while the query projects fewer — a sign
                    column pruning broke. (Small dims exempt: reading all
                    3 columns of nation is fine.)
  R4 single_part    Window over an empty partitionBy (WindowExec warns
                    "No Partition Defined") — fine only when input is
                    already bounded (post-agg scalars); flagged when it
                    sits directly on a fact-table scan.
  R5 bnlj_fact      BroadcastNestedLoopJoin where the STREAMED side is a
                    raw fact scan and the broadcast side is not tiny —
                    only allowed on explicitly bounded inputs.

Usage:
    python tools/plan_lint.py [--sf /root/testdata/sf0.001] [--only k1,k2]

Exit code 1 if any non-allowlisted finding fires; the test suite runs
this over the full registry (tests/test_plan_lint.py).
"""

from __future__ import annotations

import argparse
import re
import sys
from pathlib import Path

# the checkout this tool sits in, so it checks its own package
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# Keys whose semantics legitimately need the flagged construct.
ALLOW = {
    "cartesian": {
        "join_cross",        # J6 IS a cartesian (region × nation, both tiny)
        "agg_quantiles",     # quantile spec grid × 5-row agg
        "stats_equidepth",   # bucket spec grid
        "cal_densify",       # calendar spine × bounded key domain
        "llm_chunk_windows", # window-index sequence per doc (bounded fanout)
        "mix_upsample",      # epoch-repeat sequence explode
    },
    "python_udf": {
        "udf_scalar",        # X1 exists precisely to cover the slow API
        "udtf_python",       # Spark 4 Python UDTF (arrow-batched internally)
    },
    # windows over a global ORDER BY on purpose-bounded inputs
    "single_part": {
        "topk",              # TakeOrderedAndProject, not WindowExec
        "sales_pareto", "sales_abc", "stats_equidepth",  # |groups| rows
        "llm_vocab", "llm_zipf_fit", "llm_heavy_hitters",  # vocab-bounded
        "win_null_order",    # W1 null-ordering semantics NEED a global
                             # total rank; at scale use range partitioning
    },
}

FACTS = ("lineitem", "orders", "events")  # tables that are huge at scale


def lint_plan(key: str, plan: str) -> list[str]:
    finds: list[str] = []

    if "CartesianProduct" in plan and key not in ALLOW["cartesian"]:
        finds.append("R1 cartesian: CartesianProduct in plan")

    if re.search(r"BatchEvalPython", plan) and key not in ALLOW["python_udf"]:
        finds.append("R2 python_udf: row-at-a-time Python eval in plan")

    # R3: fact scan with no pushed filters AND full-width ReadSchema is
    # only suspicious when the query's output is narrow; approximate by
    # flagging full 11-col lineitem reads (schema floor: struct<...11 fields)
    if key not in ("scan_parquet", "limit_rows", "sample_seed"):  # SELECT * keys
        # Anchor to the scan node that reads lineitem: the path and the
        # ReadSchema must sit in the SAME "(n) Scan parquet" block, else a
        # wide scan of another table in a lineitem-touching query gets
        # misattributed to lineitem.
        for m in re.finditer(
            r"Scan parquet[^\n]*\n(?:(?!\(\d+\) )[^\n]*\n)*?"
            r"[^\n]*lineitem\.parquet[^\n]*\n"
            r"(?:(?!\(\d+\) )[^\n]*\n)*?[^\n]*ReadSchema: struct<([^>]*)>",
            plan,
        ):
            ncols = len([c for c in m.group(1).split(",") if ":" in c])
            if ncols >= 11:
                finds.append(f"R3 scan_no_prune: {ncols}-column lineitem read")
                break

    if key not in ALLOW["single_part"]:
        # Global (unpartitioned) window = Exchange SinglePartition feeding
        # a Window node. Fine after an aggregation (input already bounded
        # to |groups| rows); flagged when the single-partition window sits
        # on raw fact rows — that's one task sorting the whole table.
        has_global_window = (
            re.search(r"\(\d+\) Window", plan) or "\n+- Window" in plan or "Window (" in plan
        ) and "SinglePartition" in plan
        if (
            has_global_window
            and any(f"{t}.parquet" in plan for t in FACTS)
            and "HashAggregate" not in plan
        ):
            finds.append("R4 single_part: global window directly over a fact scan")

    # R5: a CONDITIONED nested-loop join (non-equi predicate that found
    # no equi key) is the per-pair scan to watch; plain Cross-type BNLJ
    # over an Identity broadcast is the scalar/grid-broadcast idiom and
    # is covered by R1 when the broadcast side isn't bounded.
    conditioned_bnlj = re.search(
        r"BroadcastNestedLoopJoin BuildLeft, (?!Cross)|"
        r"BroadcastNestedLoopJoin BuildRight, (?!Cross)", plan
    )
    if conditioned_bnlj and key not in (
        "join_range",  # band join: tiny broadcast side by design
        "join_interval",
        "join_lateral",
        "subq_scalar",
        "subq_correlated",
        "q11_threshold", "q15_topsupp", "q17_smallqty", "q22_noorders",
        "events_concurrency",  # sweep-line grid vs bounded day domain
    ):
        finds.append("R5 bnlj_fact: conditioned nested-loop join outside allowlist")

    return finds


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    from etl_framework_spark.session import get_spark
    from etl_framework_spark.plans import explain_str
    import __spark_entry__ as ent

    spark = get_spark("plan-lint")
    spark.sparkContext.setLogLevel("ERROR")
    qs = ent.queries()
    keys = [k for k in args.only.split(",") if k] or sorted(qs)

    failures: dict[str, list[str]] = {}
    for key in keys:
        try:
            plan = explain_str(qs[key](spark, args.sf))
        except Exception as e:  # noqa: BLE001
            failures[key] = [f"PLAN ERROR: {e}"]
            continue
        finds = lint_plan(key, plan)
        if finds:
            failures[key] = finds
    for key, finds in sorted(failures.items()):
        for f in finds:
            print(f"LINT {key}: {f}")
    print(f"{len(keys) - len(failures)}/{len(keys)} clean")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
