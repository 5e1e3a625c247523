"""Interleaved A/B of the repository benchmark: a base revision against
this checkout.

    python tools/ab.py --base REV --workload etl_jobs --pairs 10 [--seed0 S] [--trace 1]

The base arm runs ``perfbench/run.py`` in a temporary ``git worktree`` of
REV, the change arm in this checkout, uncommitted edits included. Each
arm first does one warm-up run (seed ``S``), which is printed but left
out of the pairs and the summary: a checkout's first Spark session
records its class-data-sharing archive (``.cache/*.jsa``), and that run
is slower. The name and size of each arm's archive are printed after
the warm-ups. Pair i runs seed ``S + i`` on both arms; the arms
alternate which goes first.
Every raw run is printed as it finishes, then per metric each arm's
median and quartiles, the pairs the change won (ties count for neither),
the base's IQR, and whether the claim rule holds: at least nine tenths of
the pairs won and the medians apart by more than the base's IQR. The
metrics, their direction and the run length come from BENCHMARK.json.
The last line of stdout is one JSON object with every run and the summary.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
RUN_TIMEOUT_S = 900


def run_once(checkout: Path, workload: str, seed: int, trace: int, seconds: float) -> dict:
    """One benchmark run in ``checkout``: its metrics and failure count,
    or ``error`` when it did not finish with a result line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    try:
        out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                             timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {RUN_TIMEOUT_S} s"}
    try:
        result = json.loads(out.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        return {"error": f"exit {out.returncode}: {out.stderr.strip()[-500:]}"}
    return {
        "failed": result["failed"],
        "attempted": result["attempted"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
    }


def cds_archives(checkout: Path) -> list[tuple[str, int]]:
    """Name and size in bytes of each class-data-sharing archive in
    ``checkout``'s ``.cache``."""
    return [(p.name, p.stat().st_size) for p in sorted((checkout / ".cache").glob("*.jsa"))]


def interleave(arms: dict[str, Path], workload: str, pairs: int, seed0: int, trace: int,
               seconds: float, better: dict[str, str], run=run_once,
               log=lambda line: print(line, flush=True)) -> tuple[list[dict], dict[str, list[tuple[str, int]]]]:
    """One discarded warm-up run per arm, then ``pairs`` pairs of runs,
    the arms alternating which goes first. Logs every run as it finishes
    and each arm's archives after the warm-ups; returns the paired runs
    and those archives."""

    def one(label: str, arm: str, seed: int) -> dict:
        r = run(arms[arm], workload, seed, trace, seconds)
        shown = r.get("error") or " ".join(
            f"{k}={v:.4g}" for k, v in r["metrics"].items() if k in better)
        log(f"{label} seed {seed} {arm:4s} failed={r.get('failed', '-')} {shown}")
        return r

    for arm in arms:
        one("warm-up    ", arm, seed0)
    archives = {arm: cds_archives(path) for arm, path in arms.items()}
    for arm, found in archives.items():
        log(f"CDS archive {arm:4s}: "
            + (", ".join(f"{n} {size / 2**20:.0f} MiB" for n, size in found) or "none"))
    runs: list[dict] = []
    for i in range(pairs):
        seed = seed0 + i
        for arm in list(arms) if i % 2 == 0 else list(arms)[::-1]:
            r = one(f"run {len(runs):2d} pair {i}", arm, seed)
            r.update(run=len(runs), pair=i, seed=seed, arm=arm)
            runs.append(r)
    return runs, archives


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[dict], better: dict[str, str]) -> dict[str, dict]:
    """Per metric: quartiles per arm, pairs won by the change, the base
    IQR and the claim rule."""
    pairs: dict[int, dict[str, dict]] = {}
    for r in runs:
        if "metrics" in r:
            pairs.setdefault(r["pair"], {})[r["arm"]] = r["metrics"]
    full = [p for p in pairs.values() if len(p) == 2]
    out = {}
    for name in better:
        base = [p["base"][name] for p in full if name in p["base"]]
        head = [p["head"][name] for p in full if name in p["head"]]
        if not base or len(base) != len(head):
            continue
        sign = 1 if better[name] == "lower" else -1
        won = sum(sign * (b - h) > 0 for b, h in zip(base, head))
        bq, hq = quartiles(base), quartiles(head)
        gain = sign * (bq[1] - hq[1])
        out[name] = {
            "base": bq, "head": hq, "won": won, "pairs": len(base),
            "base_iqr": bq[2] - bq[0],
            "change": hq[1] / bq[1] - 1 if bq[1] else None,
            "claim_holds": won >= 0.9 * len(base) and gain > bq[2] - bq[0],
        }
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="the base revision, e.g. HEAD~1")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=1, help="the seed of the first pair")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = bench["per_layer"] if args.trace else bench["end_to_end"]
    better = {m["name"]: m["better"] for m in metrics}
    rev = subprocess.run(["git", "rev-parse", "--verify", f"{args.base}^{{commit}}"], cwd=ROOT,
                         capture_output=True, text=True, check=True).stdout.strip()
    base_dir = Path(tempfile.mkdtemp(prefix="ab-base-"))
    subprocess.run(["git", "worktree", "add", "--detach", str(base_dir), rev], cwd=ROOT,
                   capture_output=True, check=True)
    arms = {"base": base_dir, "head": ROOT}
    try:
        runs, archives = interleave(arms, args.workload, args.pairs, args.seed0, args.trace,
                                    bench["run_seconds"], better)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", str(base_dir)], cwd=ROOT,
                       capture_output=True)
        shutil.rmtree(base_dir, ignore_errors=True)
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT, capture_output=True)

    summary = summarize(runs, better)
    print(f"\n{args.workload}, base {args.base} ({rev[:10]}) vs this checkout, "
          f"{args.pairs} pairs from seed {args.seed0}, trace {args.trace}")
    print(f"{'metric':36s} {'base q1/med/q3':>26s} {'change q1/med/q3':>26s} "
          f"{'change':>8s} {'won':>6s} {'base IQR':>9s} claim")
    for name, s in summary.items():
        fmt = "/".join(f"{v:.4g}" for v in s["base"]), "/".join(f"{v:.4g}" for v in s["head"])
        change = "n/a" if s["change"] is None else f"{s['change']:+.1%}"
        print(f"{name:36s} {fmt[0]:>26s} {fmt[1]:>26s} {change:>8s} "
              f"{s['won']:>2d}/{s['pairs']:<3d} {s['base_iqr']:9.4g} "
              f"{'holds' if s['claim_holds'] else '-'}")
    failed = {arm: sum(r.get("failed", 0) for r in runs if r["arm"] == arm) for arm in arms}
    errors = sum("error" in r for r in runs)
    print(f"failed items: base {failed['base']}, change {failed['head']}; "
          f"runs without a result: {errors}")
    print(json.dumps({"base": rev, "workload": args.workload, "seed0": args.seed0,
                      "trace": args.trace, "archives": archives, "runs": runs,
                      "summary": summary}))
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
