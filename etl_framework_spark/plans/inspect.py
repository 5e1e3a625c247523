"""Physical-plan inspection helpers (SURVEY.md §3.3 / §5.4 golden
plans).

`explain_str` returns what ``df.explain(mode)`` prints; tests assert
plan properties (filters pushed to the parquet scan, dims broadcast,
top-k planned as TakeOrderedAndProject, no unexpected cartesian
products) so a regression that silently de-optimizes a query fails CI
before it shows up in bench numbers.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame

from etl_framework_spark.catalog import SCRATCH_PREFIX


def normalize_plan(plan: str) -> str:
    """Strip run-dependent noise from a formatted plan so snapshots
    diff cleanly across sessions: expression IDs (#123 — a global
    counter that depends on what ran before), plan_id tags, codegen
    ids, absolute data paths, partition counts and the statistics of
    query stages that already ran. Structure (operators, join
    strategies, pushed filters, read schemas) is untouched — exactly
    what a golden-plan regression test should pin."""
    plan = re.sub(r"#\d+L?", "#x", plan)
    plan = re.sub(r"\blambda ([a-z]+)_\d+", r"lambda \1_n", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=x", plan)
    plan = re.sub(r"\[codegen id : \d+\]", "[codegen id : x]", plan)
    plan = re.sub(r"file:[^\],\s]*/testdata/", "file:.../testdata/", plan)
    # sink round-trip keys write under catalog.scratch_path's per-process
    # mkdtemp dir, wherever TMPDIR puts it
    plan = re.sub(
        rf"file:[^\],\s]*/{re.escape(SCRATCH_PREFIX)}[^/\],\s]+/", "file:.../scratch/", plan
    )
    plan = re.sub(r"file:[^\],\s]*/(spark-warehouse|tmp)[^\],\s]*", r"file:.../\1", plan)
    # Python-RDD scans embed the session-global RDD id
    plan = re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD[x]", plan)
    # common-expression elimination (nullif/With) names its refs from a
    # session-global counter, like exprIds (_common_expr_0 when the key
    # runs solo, _common_expr_10 mid-sweep — r11 caught rank_map_mrr
    # drifting on exactly this)
    plan = re.sub(r"_common_expr_\d+", "_common_expr_x", plan)
    # localCheckpoint call sites name a JVM reflection frame that varies
    # with how the JVM was entered (NativeMethodAccessorImpl.java:0 vs
    # <unknown>:0) — environmental, not a plan property
    plan = re.sub(
        r"at localCheckpoint at [^,\]]+", "at localCheckpoint at <loc>", plan
    )
    # partition counts come from the session, not the plan:
    # shuffle.partitions, defaultParallelism (spark.range splits,
    # repartition(defaultParallelism)), so they follow the core count.
    # The hash/range count is anchored on the shuffle origin after it
    # (", ENSURE_REQUIREMENTS") so arguments like substring(h, 1, 4)
    # inside the partitioning expressions stay as they are
    plan = re.sub(
        r"\b((?:hash|range)partitioning\(.*?, )\d+(\), [A-Z][A-Z_]+\b)", r"\1x\2", plan
    )
    plan = re.sub(r"\b(RoundRobinPartitioning|splits=Some)\(\d+\)", r"\1(x)", plan)
    # AQE query stages that already ran carry their measured size and
    # row count, which follow the partitioning too
    plan = re.sub(r"\bStatistics\(sizeInBytes=[^)]*\)", "Statistics(x)", plan)
    return plan


# Keys whose multi-distinct aggregates go through Catalyst's
# RewriteDistinctAggregates: the rule groups distinct children via a
# HashMap keyed by exprId, so the Expand projection ORDER (and the gid
# each distinct column gets) depends on absolute exprId values — which
# drift with any code change earlier in the process. Structure is
# stable; column order inside Expand is not. For these keys the golden
# pins the operator skeleton (tree + operator names) instead of the
# full detail text. Everything scale-relevant (join strategy, number
# of exchanges, agg phases) lives in the skeleton.
SKELETON_ONLY_KEYS = frozenset({
    "agg_multi_distinct",
    "dq_constant_column_detect",
    "dq_modality_coverage",
    "dq_observe_metrics",
    "dq_table_ratio_check",
    "events_new_vs_returning",
    "feat_mi_matrix",
    "fn_masking",
    "llm_bag_dedup_gap",
    "llm_data_card",
    "llm_dedup_casefold",
    "llm_greedy_coverage",
    "llm_lang_label_conflicts",
    "pipeline_lineage",
    "profile_lineitem",
    "stats_benford_second",
    "stats_chisq",
    "stats_cramers_v",
    "stream_join",
    "vec_label_text_alignment",
})


def plan_skeleton(plan: str) -> str:
    """The operator tree alone (everything before the first blank
    line), with node numbers stripped — the stable canonical form for
    SKELETON_ONLY_KEYS."""
    tree = plan.split("\n\n", 1)[0]
    tree = re.sub(r"\(\d+\)", "(n)", tree)
    return tree + "\n"


def golden_form(key: str, plan: str) -> str:
    """The canonical text committed to artifacts/plans/<key>.txt."""
    norm = normalize_plan(plan)
    if key in SKELETON_ONLY_KEYS:
        return "SKELETON-ONLY (multi-distinct Expand order is exprId-dependent)\n" + plan_skeleton(norm)
    return norm


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (what df.explain() prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def assert_in_plan(df: DataFrame, *needles: str, absent: tuple[str, ...] = ()) -> str:
    plan = explain_str(df)
    for needle in needles:
        assert needle in plan, f"expected {needle!r} in plan:\n{plan}"
    for needle in absent:
        assert needle not in plan, f"did NOT expect {needle!r} in plan:\n{plan}"
    return plan


def capture_plans(queries: dict, spark, sf_dir: str, out_dir: str) -> list[str]:
    """Snapshot every query's formatted plan to out_dir/<key>.txt.

    Clears the session cache before each key: Spark's cache manager
    substitutes any matching logical subplan with a live cached
    relation, so whether an earlier key's persist() has been
    GC-collected yet would otherwise flip InMemoryTableScan nodes in
    and out of later keys' plans nondeterministically."""
    os.makedirs(out_dir, exist_ok=True)
    written = []
    for key, fn in queries.items():
        try:
            spark.catalog.clearCache()
            plan = golden_form(key, explain_str(fn(spark, sf_dir)))
        except Exception as e:  # noqa: BLE001 — capture what we can
            plan = f"ERROR: {e}"
        path = os.path.join(out_dir, f"{key}.txt")
        with open(path, "w") as f:
            f.write(plan)
        written.append(path)
    return written
