"""Run-to-run spread of the end-to-end metrics: runs the benchmark once
per seed on each workload, untraced, then once traced, and prints a
Markdown report. Per metric it gives the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the interquartile range as a
share of the median, next to the bound in BENCHMARK.json; then every
run's values, and the traced run's sanity checks and tracing overhead.

    python3 perfbench/stability.py --runs 10 [--workloads etl_jobs] [--first-seed 1] > perfbench/STABILITY.md
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(bench: dict, workload: str, seed: int, trace: int) -> tuple[dict, dict, float]:
    """One benchmark run: (details line, result line, wall seconds)."""
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    wall = time.perf_counter() - t0
    details, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    return details, result, wall


def host() -> str:
    model = "unknown CPU"
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    return f"{os.cpu_count()} x {model}, {mem_gb:.0f} GiB RAM, {platform.system()}"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = range(args.first_seed, args.first_seed + args.runs)
    out = [
        "# Benchmark stability",
        "",
        f"Host: {host()}. Made by `python3 perfbench/stability.py --runs {args.runs} "
        f"--first-seed {args.first_seed}`: one untraced run per seed and workload, "
        f"`--seconds {bench['run_seconds']}`, then one traced run. Spread = (q3 − q1) / median.",
    ]
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {m: [] for m in bounds}
        walls, failed, attempted = [], 0, 0
        for seed in seeds:
            _, res, wall = run(bench, wl, seed, 0)
            walls.append(wall)
            failed += res["failed"] + (not res["correct"])
            attempted += res["attempted"]
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(wl, seed, f"{wall:.1f}s", {m: round(v[-1], 4) for m, v in values.items()},
                  file=sys.stderr, flush=True)
        out += ["", f"## {wl}", "",
                f"{args.runs} runs, seeds {seeds[0]}–{seeds[-1]}; {failed} failed of "
                f"{attempted} attempted; run wall time median {statistics.median(walls):.1f} s, "
                f"max {max(walls):.1f} s.", "",
                "| metric | median | q1 | q3 | spread | bound |", "|---|---:|---:|---:|---:|---:|"]
        for m, v in values.items():
            q1, q2, q3 = statistics.quantiles(v, n=4)
            out.append(f"| `{m}` | {q2:.4g} | {q1:.4g} | {q3:.4g} | {(q3 - q1) / q2:.3f} "
                       f"| {bounds[m]} |")
        out += ["", "| seed | " + " | ".join(f"`{m}`" for m in values) + " | run wall s |",
                "|---:|" + "---:|" * (len(values) + 1)]
        for i, seed in enumerate(seeds):
            out.append(f"| {seed} | " + " | ".join(f"{v[i]:.4g}" for v in values.values())
                       + f" | {walls[i]:.1f} |")

        details, res, wall = run(bench, wl, seeds[0], 1)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        out += ["", f"Traced run (seed {seeds[0]}, {wall:.1f} s): correct={res['correct']}, "
                f"traced pass {m['trace.traced_pass_s']:.3f} s against untraced "
                f"{m['trace.untraced_pass_s']:.3f} s, overhead {m['trace.overhead_frac']:+.1%}; "
                f"sanity failures: {details['sanity'] or 'none'}."]
    print("\n".join(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
