"""Query/oracle registry — the SURVEY.md §2 contract surface.

Every implemented operator registers a callable ``(spark, sf_dir) ->
DataFrame`` plus (where SQL-expressible) a DuckDB oracle SQL string.
``__spark_entry__.queries()`` / ``oracle_sql()`` re-export these dicts.

Oracle-equality discipline (SURVEY.md §5.3): alias every computed
column identically on both sides; total order for any rank/top-k;
round floats where aggregation order can change low bits; truncate
events.ts (ns in parquet) before exposing/comparing.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import Any

from etl_framework_spark.session import prep

QUERIES: dict[str, Callable[..., Any]] = {}
ORACLES: dict[str, str] = {}


def query(key: str, oracle: str | None = None) -> Callable:
    """Register ``fn(spark, sf_dir) -> DataFrame`` under ``key``.

    The registered callable runs ``session.prep(spark)`` before ``fn``,
    so every key normalizes the session it is handed (UTC, AQE, shuffle
    sizing) and a key body never calls ``prep`` itself. The decorator
    returns that same wrapper, so a key that calls another key directly
    gets the same treatment.

    ``oracle`` is the equivalent DuckDB SQL (ANSI, over the
    pre-registered views); omit for non-SQL-expressible ops —
    the driver then records a weaker rows-only check.
    """

    def deco(fn: Callable) -> Callable:
        if key in QUERIES:
            raise ValueError(f"duplicate query key {key!r}")

        @functools.wraps(fn)
        def prepped(spark, *args, **kwargs):
            prep(spark)
            return fn(spark, *args, **kwargs)

        QUERIES[key] = prepped
        if oracle is not None:
            ORACLES[key] = " ".join(oracle.split())
        return prepped

    return deco


# ---------------------------------------------------------------------------
# Driver-head ordering (single owner — VERDICT r6 item 1, r7 item 5,
# ADVICE r7). The external driver's CORRECTNESS_r{N}.json truncates at
# the first 50 registry keys (dict insertion order): 45 pinned family
# representatives + 5 slots that rotate each round through the exact-
# oracle keys the driver has never recorded, so its own record
# accumulates coverage beyond a fixed head. queries/__init__.py calls
# finalize_head() once, after all registrations.

import glob as _glob
import hashlib as _hashlib
import json as _json
import os as _os
import re as _re
import subprocess as _subprocess

_REPO_ROOT = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))

N_ROTATING = 5


def _record_files(repo_root: str = _REPO_ROOT) -> list[str]:
    """Paths of the COMMITTED driver records (CORRECTNESS_r*.json in
    the HEAD tree). Restricting to committed names makes the registry
    head a pure function of the commit — neither an untracked record
    the driver just wrote nor a staged-but-uncommitted one can shift
    it (ADVICE r8/r9: ``git ls-files`` reads the index, so a bare
    ``git add`` already moved the head; ``ls-tree HEAD`` cannot).
    Falls back to a plain glob when git is unavailable (sdist install,
    exported tree)."""
    try:
        out = _subprocess.run(
            ["git", "-C", repo_root, "ls-tree", "HEAD", "--name-only"],
            capture_output=True,
            text=True,
            timeout=10,
        )
        if out.returncode == 0:
            return [
                _os.path.join(repo_root, f)
                for f in out.stdout.splitlines()
                if _re.fullmatch(r"CORRECTNESS_r\d+\.json", f)
            ]
    except Exception:
        pass
    return _glob.glob(_os.path.join(repo_root, "CORRECTNESS_r*.json"))


def _record_json(path: str, repo_root: str) -> dict:
    """Content of one driver record AS COMMITTED (``git show
    HEAD:<name>``), falling back to the disk file when git is
    unavailable. Reading the working-tree copy would let an edit to an
    already-committed record shift the rotation head even though
    ``_record_files`` pins the NAME set to HEAD (ADVICE r10: the
    'pure function of the commit' claim held only for filenames)."""
    name = _os.path.basename(path)
    try:
        out = _subprocess.run(
            ["git", "-C", repo_root, "show", f"HEAD:{name}"],
            capture_output=True,
            text=True,
            timeout=10,
        )
        if out.returncode == 0:
            return _json.loads(out.stdout)
    except Exception:
        pass
    with open(path) as fh:
        return _json.load(fh)


def driver_recorded_keys(repo_root: str = _REPO_ROOT) -> set[str]:
    """Every key that has appeared in ANY committed driver record —
    names AND content resolved against the HEAD tree, so the rotation
    head is a pure function of the commit."""
    seen: set[str] = set()
    for f in _record_files(repo_root):
        try:
            seen.update(_record_json(f, repo_root).keys())
        except Exception:
            continue  # unreadable record never blocks registration
    return seen


def rotation_slots(
    pinned: list[str],
    n: int = N_ROTATING,
    repo_root: str = _REPO_ROOT,
    seen: set[str] | None = None,
) -> list[str]:
    """This round's rotating head slots: the first ``n`` keys of the
    md5-permuted pool, fresh-first. Pool = exact-oracle keys not
    pinned; keys already in a committed driver record sort to the
    tail. There is NO explicit round offset: once the driver records
    this round's slots they leave the fresh prefix, so consecutive
    rounds advance through the pool naturally and provably exhaust
    every fresh key before any repeat (ADVICE r8: the old
    ``(round-1)*n`` offset could skip past fresh keys while re-picking
    seen ones). ``seen`` is injectable for simulation tests."""
    if seen is None:
        seen = driver_recorded_keys(repo_root)
    pool = sorted(
        (k for k in QUERIES if k in ORACLES and k not in pinned),
        key=lambda k: _hashlib.md5(k.encode()).hexdigest(),
    )
    fresh = [k for k in pool if k not in seen]
    ordered = fresh + [k for k in pool if k in seen]
    return ordered[:n]


def finalize_head(pinned: list[str], n: int = N_ROTATING) -> list[str]:
    """Reorder QUERIES in place so its head is pinned + this round's
    rotation slots. Content is untouched — only dict order changes.
    Returns the head for tests/logging."""
    missing = [k for k in pinned if k not in QUERIES]
    if missing:
        raise ValueError(f"pinned head keys missing from registry: {missing}")
    head = list(pinned) + rotation_slots(pinned, n=n)
    reordered = {k: QUERIES[k] for k in head}
    reordered.update(
        (k, v) for k, v in QUERIES.items() if k not in reordered
    )
    QUERIES.clear()
    QUERIES.update(reordered)
    return head
