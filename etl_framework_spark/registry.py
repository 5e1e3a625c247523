"""Query/oracle registry — the SURVEY.md §2 contract surface.

Every implemented operator registers a callable ``(spark, sf_dir) ->
DataFrame`` plus (where SQL-expressible) a DuckDB oracle SQL string.
``__spark_entry__.queries()`` / ``oracle_sql()`` re-export these dicts;
``queries/__init__.py`` calls ``finalize_head`` once, after every
registration, to put its fixed 50-key driver head first.

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


def finalize_head(head: list[str]) -> list[str]:
    """Reorder QUERIES in place so its first keys are ``head``, in that
    order. Content is untouched — only dict order changes."""
    missing = [k for k in head if k not in QUERIES]
    if missing:
        raise ValueError(f"head keys missing from registry: {missing}")
    reordered = {k: QUERIES[k] for k in head}
    reordered.update(QUERIES)
    QUERIES.clear()
    QUERIES.update(reordered)
    return head
