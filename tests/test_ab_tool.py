"""The A/B tool's pair arithmetic (``tools/ab.py``), on made-up runs."""

from __future__ import annotations

import pytest

from tools.ab import summarize


def _runs(metric: str, base: list[float], head: list[float]) -> list[dict]:
    runs = []
    for i, (b, h) in enumerate(zip(base, head)):
        runs.append({"pair": i, "arm": "base", "metrics": {metric: b}})
        runs.append({"pair": i, "arm": "head", "metrics": {metric: h}})
    return runs


def test_lower_is_better_wins_and_claim():
    base = [10.0, 9.0, 11.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.3]
    head = [15.0] + [5.0] * 9  # the first change run is slower, the rest win
    s = summarize(_runs("setup_s", base, head), {"setup_s": "lower"})["setup_s"]
    assert (s["won"], s["pairs"]) == (9, 10)
    assert s["base"][1] == pytest.approx(10.05)
    assert s["head"][1] == 5.0
    assert s["claim_holds"]


def test_ties_count_for_neither_and_direction_is_respected():
    s = summarize(_runs("u", [0.5, 0.5, 0.5], [0.5, 0.6, 0.4]), {"u": "higher"})["u"]
    assert s["won"] == 1 and not s["claim_holds"]


def test_gain_inside_base_iqr_is_no_claim():
    base = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    head = [b - 0.5 for b in base]  # wins every pair, but by less than the IQR
    s = summarize(_runs("x", base, head), {"x": "lower"})["x"]
    assert s["won"] == 10 and s["base_iqr"] == pytest.approx(4.5)
    assert not s["claim_holds"]


def test_runs_without_result_drop_their_pair():
    runs = _runs("x", [2.0, 2.0], [1.0, 1.0])
    runs[3] = {"pair": 1, "arm": "head", "error": "exit 1"}
    assert summarize(runs, {"x": "lower"})["x"]["pairs"] == 1
