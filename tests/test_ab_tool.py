"""The A/B tool's run order and pair arithmetic (``tools/ab.py``), on
made-up runs."""

from __future__ import annotations

import pytest

from tools.ab import interleave, summarize


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


def test_warm_up_per_arm_is_left_out_of_the_pairs(tmp_path):
    """Each arm runs once before pair 0; those runs are logged but not
    returned, so neither the pair count nor the summary sees them. The
    archives are read after the warm-ups, which are what record them."""
    arms = {"base": tmp_path / "base", "head": tmp_path / "head"}
    calls = []

    def run(checkout, workload, seed, trace, seconds):
        calls.append((checkout.name, seed))
        (checkout / ".cache").mkdir(parents=True, exist_ok=True)
        (checkout / ".cache" / "spark-0.jsa").write_bytes(b"x" * (len(calls) << 20))
        # the warm-ups are the slow runs: 100 s against 1 s
        return {"failed": 0, "attempted": 1, "metrics": {"x": 100.0 if len(calls) <= 2 else 1.0}}

    log = []
    runs, archives = interleave(arms, "w", 2, 7, 0, 1.0, {"x": "lower"}, run=run,
                                log=log.append)
    assert calls == [("base", 7), ("head", 7),
                     ("base", 7), ("head", 7), ("head", 8), ("base", 8)]
    assert [(r["pair"], r["arm"], r["seed"], r["run"]) for r in runs] == [
        (0, "base", 7, 0), (0, "head", 7, 1), (1, "head", 8, 2), (1, "base", 8, 3)]
    assert archives == {"base": [("spark-0.jsa", 1 << 20)], "head": [("spark-0.jsa", 2 << 20)]}
    assert log[:2] == ["warm-up     seed 7 base failed=0 x=100", "warm-up     seed 7 head failed=0 x=100"]
    assert log[2:4] == ["CDS archive base: spark-0.jsa 1 MiB", "CDS archive head: spark-0.jsa 2 MiB"]
    s = summarize(runs, {"x": "lower"})["x"]
    assert s["pairs"] == 2 and s["base"] == (1.0, 1.0, 1.0)
