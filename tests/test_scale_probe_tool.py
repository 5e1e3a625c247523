"""Unit tests for tools/scale_probe.py's pure pieces (no Spark).

The probe's artifact integrity matters: a --keys re-probe once
overwrote the full 19-key record because _write replaced instead of
merging. These tests pin the merge behavior and the corpus
construction invariants.
"""

from __future__ import annotations

import importlib.util
import json
import sys

from tests.conftest import ROOT


def _load():
    spec = importlib.util.spec_from_file_location(
        "scale_probe", ROOT / "tools" / "scale_probe.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["scale_probe"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_alphabet_maps_are_distinct_and_length_preserving():
    sp = _load()
    seen = set()
    for k in range(10):
        a, b = sp._alphabet(k)
        assert len(a) == len(b)  # translate() preserves length
        assert sorted(a) == sorted(b)  # a permutation, not a lossy map
        seen.add(b)
    assert len(seen) == 10  # 10 distinct per-replica transforms
    assert sp._alphabet(0)[0] == sp._alphabet(0)[1]  # k=0 is identity


def test_write_merges_partial_reprobes(tmp_path, monkeypatch):
    """r8 layout: named runs. A --keys re-probe updates one key inside
    its run; other keys AND other runs (x30, fixed_q_x10) survive."""
    sp = _load()
    out = tmp_path / "scale_probe.json"
    monkeypatch.setattr(sp, "OUT_JSON", str(out))
    sp._write("base", "x10", {"a": {"exponent": 1.0}, "b": {"exponent": 0.5}}, "n1")
    # a --keys re-probe of just 'a' must update 'a' and KEEP 'b'
    sp._write("base", "x10", {"a": {"exponent": 0.9}}, "n1")
    got = json.load(open(out))
    assert got["runs"]["x10"]["keys"]["a"]["exponent"] == 0.9
    assert got["runs"]["x10"]["keys"]["b"]["exponent"] == 0.5
    # a different factor lands in its OWN run without clobbering x10
    sp._write("base", "x30", {"c": {"exponent": 0.1}}, "n2")
    got = json.load(open(out))
    assert set(got["runs"]) == {"x10", "x30"}
    assert set(got["runs"]["x30"]["keys"]) == {"c"}


def test_write_migrates_pre_r8_layout(tmp_path, monkeypatch):
    """A pre-r8 single-run file ({factor, keys}) is folded into
    runs["x{factor}"] instead of being dropped."""
    sp = _load()
    out = tmp_path / "scale_probe.json"
    monkeypatch.setattr(sp, "OUT_JSON", str(out))
    out.write_text(json.dumps(
        {"factor": 10, "note": "old", "keys": {"k": {"exponent": 1.2}}}
    ))
    sp._write("base", "x30", {"c": {"exponent": 0.1}}, "n")
    got = json.load(open(out))
    assert got["runs"]["x10"]["keys"]["k"]["exponent"] == 1.2
    assert got["runs"]["x30"]["keys"]["c"]["exponent"] == 0.1
