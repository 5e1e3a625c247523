"""Smoke test of the benchmark itself: every workload, untraced and
traced, at sf0.001 with the shortest run. Asserts that the last line
names every metric of BENCHMARK.json with its unit, that no item failed
and that the outputs were correct.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for wl in bench["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl["name"],
                   "--seed", "7", "--seconds", "0", "--trace", str(trace),
                   "--sf", "0.001"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            tag = f"{wl['name']} trace={trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-2000:]}")
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            want = {m["name"]: m["unit"] for m in bench[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics {got} != {want}")
            print(f"{tag}: ok, {res['attempted']} attempted", flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
