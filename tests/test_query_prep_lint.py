"""No ``@query`` body calls ``session.prep``: ``registry.query`` runs
it for every key, so a copy in a body is dead weight that invites the
next key to copy it again."""

from __future__ import annotations

import ast

from tests.conftest import ROOT

PKG = ROOT / "etl_framework_spark"


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _is_query(dec: ast.expr) -> bool:
    return isinstance(dec, ast.Call) and _name(dec.func) == "query"


def test_no_query_body_calls_prep() -> None:
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if not any(_is_query(d) for d in fn.decorator_list):
                continue
            if any(
                isinstance(n, ast.Call) and _name(n.func) == "prep"
                for n in ast.walk(fn)
            ):
                offenders.append(f"{path.relative_to(ROOT)}::{fn.name}")
    assert not offenders, f"@query bodies calling prep: {offenders}"
