"""Time EVERY contract query at a scale factor (default sf0.1) with
the noop sink and write artifacts/bench_all.json — the self-measured
per-operator baseline SURVEY §6 calls for. One untimed warmup then
median of 3 per key (JIT/GC noise dominates single local runs).

Usage: python tools/bench_all.py [--sf DIR] [--out PATH] [--keys k1,k2]

--keys re-times only the named keys and MERGES them into the existing
artifact (for refreshing rows whose implementation changed without a
25-minute full sweep; the full sweep remains the per-round gate).

Self-healing (VERDICT r9 item 2): the committed r8 artifact carried
four CPU-steal-contaminated rows (fn_date2 recorded 7.76 s vs 0.51 s
isolated) because a co-tenant burst inflated all three samples of a
key at once. Two defenses now:

1. ``calibration`` — the same registry/data-independent micro-workload
   bench.py times (10^7-row range → codegen projection → 1024-group
   shuffle agg), median of 5, recorded in the payload so a future
   reader can normalize rows across machine states.
2. A post-sweep re-time pass: any key whose fresh time exceeds
   RETIME_FACTOR× its value in the previous artifact (or, with no
   prior row, exceeds RETIME_ABS_SEC) is re-timed once more at the
   END of the run — a different machine moment than its first
   sample — and the MIN of the two medians is kept. Re-timed keys are
   listed under ``retimed`` with before/after so the healing is
   auditable, not silent.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from bench import cal_run  # noqa: E402 — bench.py's calibration workload
from etl_framework_spark import cacheutil  # noqa: E402

RETIME_FACTOR = 3.0   # fresh > 3× prior ⇒ suspect burst
RETIME_ABS_SEC = 5.0  # no prior row ⇒ absolute suspicion threshold


def median(xs: list[float]) -> float:
    """Median (mean-of-middle-two on even n), rounded to ms. The
    retime pass keeps the median of ALL samples from both passes —
    symmetric, unlike min-of-medians which could only lower the
    record (ADVICE r10)."""
    s = sorted(xs)
    mid = len(s) // 2
    return round(s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=str(ROOT / "artifacts" / "bench_all.json"))
    ap.add_argument("--keys", default=None, help="comma-separated subset")
    args = ap.parse_args()

    from etl_framework_spark.session import get_spark
    import __spark_entry__ as ent

    spark = get_spark("bench_all")
    qs = ent.queries()

    def run(key: str) -> float:
        t0 = time.time()
        qs[key](spark, args.sf).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    def release_blocks() -> None:
        # Shared helper: tracked persists + DataFrame cache catalog +
        # JVM persistent-RDD map (localCheckpoint blocks). Without it,
        # blocks accumulate across the 615-key sweep and depress later
        # keys (graph_khop_reach: 22.7 s in-sweep vs 7.3 s isolated
        # before this cleanup existed).
        cacheutil.release_all(spark)

    def timed_samples(key: str) -> list[float]:
        # same methodology as bench.py: one untimed warmup (plan
        # compile + codegen), then 3 timed reps — min-of-2 was still
        # showing multi-second GC-pause outliers on sub-second keys
        run(key)
        return [run(key) for _ in range(3)]

    prior_times: dict[str, float] = {}
    prior = {}
    if os.path.exists(args.out):
        try:
            prior = json.load(open(args.out))
        except Exception:
            prior = {}
        # a prior artifact taken at a DIFFERENT scale factor is not a
        # timing baseline: flagging fresh times against it marks nearly
        # every key a suspect and doubles the sweep (ADVICE r10)
        if prior.get("sf_dir") == args.sf:
            prior_times = dict(prior.get("queries", {}))
        else:
            prior = {}

    run("agg_groupby")  # session warmup, untimed
    cal_run(spark)
    cal_run(spark)
    calibration = round(sorted(cal_run(spark) for _ in range(5))[2], 3)

    times: dict[str, float] = {}
    failures: dict[str, str] = {}
    subset = args.keys.split(",") if args.keys else None
    if subset:
        missing = [k for k in subset if k not in qs]
        if missing:
            raise SystemExit(f"unknown keys: {missing}")
        # merge mode: start from the existing artifact's rows
        times.update(prior_times)
        failures.update(prior.get("failures", {}) if prior else {})
        for k in subset:
            failures.pop(k, None)
    samples: dict[str, list[float]] = {}
    for key in subset or sorted(qs):
        release_blocks()
        try:
            samples[key] = timed_samples(key)
            times[key] = median(samples[key])
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            # drop any stale merged timing too — a key must never sit
            # in both 'queries' and 'failures' (ADVICE r9)
            times.pop(key, None)
            failures[key] = str(e)[:200]
        print(f"{key:28s} {times.get(key, 'FAIL')}", flush=True)

    # --- self-healing re-time pass (different machine moment) -------
    # Suspects get 3 MORE samples and keep the median of all 6 — a
    # symmetric estimator: a steal burst in the first pass is voted
    # out, but the second pass cannot only-lower the record the way a
    # min-of-two-medians could (ADVICE r10: that asymmetry gave
    # genuine regressions an extra chance to dip under noise). Both
    # pass medians are recorded either way.
    suspects = [
        k for k in (subset or sorted(qs))
        if k in times and (
            times[k] > RETIME_FACTOR * prior_times[k]
            if k in prior_times else times[k] > RETIME_ABS_SEC
        )
    ]
    retimed: dict[str, dict[str, float]] = {}
    for key in suspects:
        release_blocks()
        try:
            again = timed_samples(key)
        except Exception:  # noqa: BLE001 — first timing stands
            continue
        merged = median(samples[key] + again)
        retimed[key] = {
            "first": times[key],
            "second": median(again),
            "kept": merged,
        }
        times[key] = merged
        print(f"retime {key:21s} {times[key]}", flush=True)

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    payload = {
        "sf_dir": args.sf,
        "calibration": calibration,
        "n_queries": len(times),
        "total_sec": round(sum(times.values()), 3),
        "queries": dict(sorted(times.items(), key=lambda kv: -kv[1])),
        "retimed": retimed,
        "failures": failures,
    }
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({"total_sec": payload["total_sec"], "n": len(times),
                      "calibration": calibration,
                      "retimed": len(retimed), "failures": len(failures)}))


if __name__ == "__main__":
    main()
