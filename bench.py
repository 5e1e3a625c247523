"""Benchmark runner (SURVEY.md §6): headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Execution is forced with the noop sink (full plan runs, nothing is
collected to the driver). Methodology (round 6): each query gets TWO
untimed warmup runs — the first pays plan compile + whole-stage
codegen (measured 2-6x steady state, e.g. fn_string 1.36 s cold vs
0.23 s warm), the second gives HotSpot C2 enough invocations to
finish tiered compilation — then the MEDIAN of 5 timed runs is
reported: the steady-state throughput a long-running cluster job
actually sees. With 1 warmup + median-of-3, whether C2 landed inside
the timed window was per-process luck: same commit, same idle
machine, back-to-back processes measured 5.67 s vs 7.59 s headline
(one slow process put join_asof at a sustained 1.15 s vs 0.43 s
steady). 2 warmups + median-of-5 reproduces to ~1%: 5.736 / 5.729 s
consecutive. Registry import is ~0.9 s for 612 keys, once, before
any timing starts — not per-query overhead; the round-5 "+10% drift"
was exactly this cold-run sampling noise, not a plan change.

Round 9: the JSON line also carries ``calibration`` — the median of 5
runs of a fixed, registry- and data-independent micro-workload (a
10^7-row range → expression projection → 1024-group shuffle agg, all
JVM codegen). Same code, same machine state ⇒ same calibration; a
round-over-round headline delta whose calibration moved by a similar
ratio is machine drift, not a regression. BASELINE.md documents the
normalization: compare time[key]/calibration across rounds, not raw
seconds (the r8 "+3%" verdict discussion would have been self-evident
noise with this denominator).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "agg_groupby",        # TPC-H Q1 shape: scan + hash agg
    "join_star",          # fact × 4 dims
    "win_topk_group",     # window top-k
    "topk",               # global TakeOrderedAndProject
    "fn_string",          # scalar-function heavy projection
    "stream_tumbling",    # time-window aggregation
    "stream_session",     # session windows
    "join_asof",          # as-of join
    "llm_dedup_exact",    # normalize+hash dedup
    "llm_dedup_minhash",  # MinHash-LSH near-dup
    "llm_sim_topk",       # brute-force cosine top-k (exact fold)
    "llm_sim_topk_gemm",  # same, Arrow-batched BLAS fast path
    "llm_text_stats",     # per-doc text analysis
]


def cal_run(spark) -> float:
    """One run of the calibration micro-workload, in seconds: the fixed
    machine-state denominator. Registry- and data-independent, it
    exercises codegen, a hash agg and a real shuffle."""
    t0 = time.time()
    (
        spark.range(0, 10_000_000, 1, 32)
        .selectExpr(
            "id % 1024 AS g",
            "id * 2654435761 % 97 AS h",
            "sin(cast(id AS DOUBLE) / 1e6) AS s",
        )
        .groupBy("g")
        .agg({"h": "sum", "s": "avg"})
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.time() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from etl_framework_spark.session import get_spark
    import __spark_entry__ as ent

    spark = get_spark("bench")
    qs = ent.queries()

    def run(key: str) -> float:
        t0 = time.time()
        qs[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    run("agg_groupby")  # session warmup, untimed
    cal_run(spark)
    cal_run(spark)
    calibration = round(sorted(cal_run(spark) for _ in range(5))[2], 3)
    times: dict[str, float] = {}
    for key in HEADLINE:
        # two untimed warmups: the first compiles the plan + codegen,
        # the second gives HotSpot C2 enough invocations to finish
        # tiering — without it, whether C2 lands inside or outside the
        # timed runs is per-process luck (measured ±10% headline spread)
        run(key)
        run(key)
        samples = sorted(run(key) for _ in range(5))
        times[key] = round(samples[2], 3)  # median of 5 steady-state

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "calibration": calibration,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # contract legibility (VERDICT r11 item 2): echo the env
                # the run actually used so a reader of the JSON line can
                # key scaling comparisons on the recorded core count
                "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
