"""Pin the registry's driver head.

The external driver's CORRECTNESS_r{N}.json truncates at the first 50
registry keys (dict insertion order), so only those get the hard
oracle signal. The head is a fixed list: 45 family representatives
(all 11 SURVEY §2 families) plus 5 keys absent from every committed
driver record, all with exact DuckDB oracles. This test freezes the
50 — if it fails, the list drifted or a head key was renamed.
"""

from __future__ import annotations

import etl_framework_spark.queries as q  # noqa: F401 — triggers registration
from etl_framework_spark.queries import DRIVER_HEAD
from etl_framework_spark.registry import ORACLES, QUERIES
from tests.conftest import ROOT

# The canonical head: every SURVEY §2 family (S/P/J/O/U/A/W/F/T/X/L)
# represented, every key carrying an exact DuckDB oracle. Demoted from
# earlier heads and still registered: join_cross, set_union_all,
# agg_conditional, win_moving_avg, fn_math, agg_approx_distinct,
# fn_hash_native, llm_dedup_minhash_fast, llm_simhash, agg_cube.
EXPECTED_HEAD = [
    "scan_parquet", "project_expr", "filter_pred", "case_when",
    "distinct_proj",
    "join_inner", "join_outer", "join_semi", "join_anti",
    "join_broadcast", "join_range", "join_interval",
    "join_star", "join_asof",
    "topk", "set_union", "set_intersect", "set_except",
    "agg_groupby", "agg_global", "agg_count_distinct", "agg_rollup",
    "agg_collect", "agg_median", "agg_stats", "agg_pivot",
    "win_rank", "win_lag_lead", "win_running_sum",
    "win_range_frame", "win_topk_group",
    "fn_string", "fn_date", "fn_array", "fn_map", "fn_json",
    "fn_hash",
    "stream_tumbling", "stream_session",
    "udaf_geomean",
    "llm_dedup_exact", "llm_dedup_minhash", "llm_dedup_jaccard",
    "llm_dedup_simhash", "llm_sim_topk",
    "orders_perfect_order", "udf_arrow_map", "llm_cluster_purity",
    "stats_slope_homogeneity", "vec_random_projection",
]


def test_pinned_head_is_frozen() -> None:
    assert DRIVER_HEAD == EXPECTED_HEAD
    assert list(QUERIES)[:50] == EXPECTED_HEAD


def test_head_oracle_coverage() -> None:
    """Every head key carries an exact DuckDB oracle (r6 item 1: the
    driver's 50-row record must contain zero no_oracle rows)."""
    for key in list(QUERIES)[:50]:
        assert ORACLES.get(key), f"head key {key} lost its oracle"


def test_demoted_keys_still_registered() -> None:
    """Head demotion/eviction must not remove keys from the contract."""
    for key in (
        "join_cross", "set_union_all", "agg_conditional", "win_moving_avg",
        "fn_math",
        "agg_approx_distinct", "fn_hash_native", "llm_dedup_minhash_fast",
        "llm_simhash", "agg_cube",
    ):
        assert key in QUERIES, f"demoted key {key} fell out of registry"


def _headline_counts() -> tuple[int, int]:
    n_keys = len(QUERIES)
    n_oracles = sum(1 for k in QUERIES if ORACLES.get(k))
    return n_keys, n_oracles


def test_readme_counts_match_registry() -> None:
    """README's headline key/oracle counts must track the registry
    (ADVICE r5: stale counts shipped twice). The claim line is
    '(current: N contract keys / M exact oracles)'."""
    n_keys, n_oracles = _headline_counts()
    with open(ROOT / "README.md") as f:
        readme = f.read()
    assert f"{n_keys} contract keys / {n_oracles} exact oracles" in readme, (
        f"README count line stale: registry has {n_keys} keys / "
        f"{n_oracles} oracles"
    )


def test_coverage_md_counts_match_registry() -> None:
    """COVERAGE.md's headline counts must track the registry too
    (VERDICT r7 item 7: its header shipped stale while only README was
    tested). COVERAGE.md states the same canonical count line, and
    (r8 item 2) its rows-only sentence must equal n_keys − n_oracles
    and its arithmetic line must spell out the same subtraction."""
    n_keys, n_oracles = _headline_counts()
    with open(ROOT / "COVERAGE.md") as f:
        cov = f.read()
    assert f"{n_keys} contract keys / {n_oracles} exact oracles" in cov, (
        f"COVERAGE.md count line stale: registry has {n_keys} keys / "
        f"{n_oracles} oracles"
    )
    n_rows_only = n_keys - n_oracles
    assert f"{n_rows_only} keys are\nrows-only by design" in cov, (
        f"COVERAGE.md rows-only sentence stale: registry implies "
        f"{n_rows_only} rows-only keys"
    )
    assert f"({n_rows_only} = {n_keys} − {n_oracles})" in cov, (
        "COVERAGE.md rows-only arithmetic line stale"
    )


_NO_PROCESS_PROBE = """
import json, subprocess, sys
attempts = []

class _Refused(subprocess.Popen):
    def __init__(self, args, *a, **k):
        attempts.append(repr(args))
        raise OSError("process start refused")

subprocess.Popen = _Refused
import etl_framework_spark.queries
import __spark_entry__
print(json.dumps(attempts))
"""


def test_package_import_starts_no_process() -> None:
    """Importing the queries and the driver entry reads no git state:
    every Popen attempt in a fresh interpreter is recorded (a plain
    raise could be swallowed by an ``except`` at the call site)."""
    import json
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-c", _NO_PROCESS_PROBE],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    assert json.loads(out.stdout.splitlines()[-1]) == []
