"""The vector folds live in operators/similarity.py: kernels build
their embedding matrix with ``guarded.as_matrix`` and quantize with
``similarity.np_q6``. The token co-occurrence edge list lives in
``operators.graph.token_adjacency``. A new per-site copy fails here."""

from __future__ import annotations

import pathlib
import re

_PKG = pathlib.Path(__file__).resolve().parents[1] / "etl_framework_spark"
_NP_Q6 = re.compile(r"np\.trunc\(.*1e6")
# the (least, greatest) orientation of two adjacent tokens, in the
# zip_with-lambda form and in the element_at form
_TOKEN_EDGE = re.compile(r'F\.least\(\s*(x, y|F\.element_at\("l")', re.M)


def _users(pattern) -> list[str]:
    return sorted(
        str(py.relative_to(_PKG))
        for py in _PKG.rglob("*.py")
        if pattern.search(py.read_text())
    )


def test_no_per_row_matrix_rebuild() -> None:
    assert _users(re.compile(re.escape("np.array(list("))) == []


def test_numpy_q6_lives_only_in_similarity() -> None:
    assert _users(_NP_Q6) == ["operators/similarity.py"]


def test_token_adjacency_lives_only_in_graph() -> None:
    assert _users(_TOKEN_EDGE) == ["operators/graph.py"]
