"""Benchmark of the config-driven ETL engine and its LLM-data kernels.

    python3 perfbench/run.py --workload etl_jobs --seed 1 --seconds 10 --trace 0

One driver process runs the items of each pass one after another on
``local[<cores>]`` (a closed loop with one client). A run is: set-up, one cold
pass, a correctness check against DuckDB, an untimed warm-up pass, then
timed passes until ``--seconds`` have passed, at least the workload's
fixed count. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it holds the details (per-item times, sample counts,
the seed's parameters, sanity checks and, when traced, every span).

Everything the run writes lives in a temporary directory under
``perfbench/.work`` that is removed at exit; inputs are generated there
from the seed, and the program is imported from this checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_SF = {"etl_jobs": 0.05, "llm_kernels": 0.02}
DATA_SEED = 42  # the tables are fixed; the run seed picks order and parameters
# a pass after the check that only warms up, so timed passes start past
# the steepest part of the warm-up curve
WARMUP_PASSES = 1
PER_LAYER = [
    ("cold_pass_s", "s"),
    ("session.get_spark_s", "s"),
    ("queries.import_s", "s"),
    ("pipeline.load_spec_s", "s"),
    ("pipeline.compile_s", "s"),
    ("pipeline.run_s", "s"),
    ("pipeline.ops_s", "s"),
    ("pipeline.ops_jobs", "count"),
    ("pipeline.validate_s", "s"),
    ("sources.read_source_s", "s"),
    ("sources.read_source_jobs", "count"),
    ("sources.write_sink_s", "s"),
    ("sources.write_sink_jobs", "count"),
    ("sources.bytes_written", "B"),
    ("sources.files_written", "count"),
    ("sources.sink_bytes_per_input_byte", "ratio"),
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    ("queries.execute_s", "s"),
    ("queries.execute_jobs", "count"),
    ("driver.gap_s", "s"),
    ("spark.result_bytes", "B"),
    ("operators.python_bytes_sent", "B"),
    ("operators.python_bytes_returned", "B"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.shuffle_read_bytes", "B"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.spill_bytes", "B"),
    ("spark.input_bytes", "B"),
    ("spark.core_utilization", "ratio"),
    ("spark.jvm_gc_s", "s"),
    ("cacheutil.release_all_s", "s"),
    ("cacheutil.live_rdds_after_item", "count"),
    ("trace.traced_pass_s", "s"),
    ("trace.untraced_pass_s", "s"),
    ("trace.overhead_frac", "ratio"),
    ("trace.sanity_failures", "count"),
]
END_TO_END = [
    ("setup_s", "s"),
    ("warm_pass_s", "s"),
    ("item_p50_s", "s"),
    ("item_tail_s", "s"),
    ("peak_rss_mb", "MiB"),
]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare(work: str) -> None:
    """Point every path Spark, the JVM and Python write to into ``work``
    and make this checkout's package importable, also by Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    jvm_opts = f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores()),
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        SPARK_SUBMIT_OPTS=os.environ.get("SPARK_SUBMIT_OPTS", "") + jvm_opts,
        SPARK_LAUNCHER_OPTS=os.environ.get("SPARK_LAUNCHER_OPTS", "") + jvm_opts,
    )
    tempfile.tempdir = tmp
    os.chdir(work)
    sys.path.insert(0, ROOT)


def set_up() -> tuple[Any, dict, dict, dict[str, float]]:
    """Import the program and start its session; the timed set-up."""
    t0 = time.perf_counter()
    from etl_framework_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    t2 = time.perf_counter()
    import __spark_entry__ as entry
    from etl_framework_spark import pipeline  # noqa: F401

    queries, oracles = entry.queries(), entry.oracle_sql()
    t3 = time.perf_counter()
    return (
        spark,
        queries,
        oracles,
        {"setup_s": t3 - t0, "session.get_spark_s": t2 - t1, "queries.import_s": t3 - t2},
    )


def stop(spark: Any) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def reset_hwm(pid: int | str) -> None:
    """Restart a process's VmHWM from its current RSS."""
    with contextlib.suppress(OSError), open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


class Runner:
    """The closed loop: passes of items, their times and failures."""

    def __init__(self, workload: Any, tracer: Any, rng: random.Random):
        self.wl, self.tracer, self.rng = workload, tracer, rng
        self.attempted = 0
        self.failures: list[str] = []

    def run_pass(self) -> tuple[float, dict[str, float], dict[str, float]]:
        """One pass in seeded order: (wall, item times, traced counters).
        Harvesting the trace between items is not counted in the wall."""
        times: dict[str, float] = {}
        counters: dict[str, float] = {}
        jobs: dict[str, float] = {}
        harvest = 0.0
        t0 = time.perf_counter()
        for it in self.wl.order(self.rng):
            self.attempted += 1
            a = time.perf_counter()
            try:
                with self.tracer.item(it.name):
                    it.run(self.tracer)
            except Exception:  # an item failure is counted, the loop goes on
                self.failures.append(f"{it.name}: {traceback.format_exc(limit=3)}")
                traceback.print_exc(file=sys.stderr)
                continue
            times[it.name] = time.perf_counter() - a
            if self.tracer.on:
                h = time.perf_counter()
                for k, v in self.tracer.harvest().items():
                    counters[k] = counters.get(k, 0.0) + v
                    if k == "spark.jobs":
                        jobs[it.name] = v
                harvest += time.perf_counter() - h
        counters["_jobs_by_item"] = jobs  # type: ignore[assignment]
        return time.perf_counter() - t0 - harvest, times, counters

    def check(self) -> None:
        self.attempted += len(self.wl.items)
        try:
            bad = self.wl.check()
        except Exception:
            bad = [f"check raised: {traceback.format_exc(limit=3)}"]
        self.failures.extend(bad)


def measure(args: argparse.Namespace, work: str) -> dict[str, Any]:
    rng = random.Random(args.seed)
    sf = args.sf or WORKLOAD_SF[args.workload]
    data = os.path.join(work, "data")
    gen = subprocess.run(
        [sys.executable, os.path.join(HERE, "datagen.py"), data, str(sf), str(DATA_SEED)],
        capture_output=True, text=True, timeout=150, check=True,
    )
    sizes = json.loads(gen.stdout)

    spark, queries, oracles, setup = set_up()
    try:
        from tracing import Tracer
        from workloads import EtlJobs, LlmKernels

        if args.workload == "etl_jobs":
            wl = EtlJobs(spark, data, os.path.join(work, "out"), sf, rng)
        else:
            wl = LlmKernels(spark, data, sf, queries, oracles)

        tracer = Tracer(spark)
        runner = Runner(wl, tracer, rng)
        cold_s, _, _ = runner.run_pass()
        t_check = time.perf_counter()
        runner.check()
        check_s = time.perf_counter() - t_check
        warmup = [runner.run_pass()[0] for _ in range(WARMUP_PASSES)]
        if args.trace:
            install_spans(tracer, args.workload)
        jvm = spark._jvm.java.lang
        jvm_pid = jvm.ProcessHandle.current().pid()
        warm: list[tuple[bool, float, dict, dict]] = []
        rss: list[dict[str, float]] = []
        gc_before = 0.0
        start = time.perf_counter()
        # traced runs alternate traced and untraced passes, starting traced
        min_passes = 3 if args.trace else wl.passes
        while len(warm) < min_passes or time.perf_counter() - start < args.seconds:
            tracer.on = bool(args.trace) and len(warm) % 2 == 0
            # the peak RSS of each pass, from a heap shrunk by a full GC
            # and without the check's DuckDB work in this process
            jvm.System.gc()
            reset_hwm(jvm_pid)
            reset_hwm("self")
            if tracer.on:
                gc_before = tracer.gc_s()
            wall, times, counters = runner.run_pass()
            rss.append({"jvm": vm_hwm_mb(jvm_pid), "python": vm_hwm_mb("self")})
            if tracer.on:
                counters["spark.jvm_gc_s"] = tracer.gc_s() - gc_before
                written = wl.written()
                if written:
                    b, f, r = written
                    counters.update({"sources.bytes_written": b, "sources.files_written": f,
                                     "sources.sink_bytes_per_input_byte": b / r})
            warm.append((tracer.on, wall, times, counters))
        tracer.on = False
        if wl.written():
            runner.check()  # the sinks of the last pass, too
    finally:
        stop(spark)

    # a fixed number of passes, so every run takes the same samples from
    # the same stretch of the warm-up curve however many fit in --seconds
    fixed = [i for i, w in enumerate(warm) if not w[0]][: wl.passes]
    per_item: dict[str, list[float]] = {}
    for i in fixed:
        for name, t in warm[i][2].items():
            per_item.setdefault(name, []).append(t)
    details: dict[str, Any] = {
        "workload": args.workload,
        "sf": sf,
        "cores": cores(),
        "inputs": sizes,
        "params": getattr(wl, "params", None),
        "setup": setup,
        "cold_pass_s": cold_s,
        "check_s": check_s,
        "warmup_passes_s": warmup,
        "pass_rss_mb": rss,
        "warm_passes": [{"traced": t, "wall_s": w, "items": i} for t, w, i, _ in warm],
        "item_samples": sum(len(v) for v in per_item.values()),
        "failures": runner.failures,
    }
    result: dict[str, float] = {}
    if args.trace:
        result, details["sanity"] = per_layer(warm, setup, wl.steady_jobs_item)
        result["cold_pass_s"] = cold_s
        details["jobs_by_item"] = [w[3]["_jobs_by_item"] for w in warm if w[0]]
        details["spans"] = tracer.spans
    else:
        result = {
            "setup_s": setup["setup_s"],
            "warm_pass_s": statistics.median(warm[i][1] for i in fixed),
            "item_p50_s": statistics.median(statistics.median(v) for v in per_item.values()),
            "item_tail_s": statistics.median(max(warm[i][2].values()) for i in fixed),
            "peak_rss_mb": statistics.median(rss[i]["jvm"] + rss[i]["python"] for i in fixed),
        }
    units = dict(PER_LAYER if args.trace else END_TO_END)
    return {
        "details": details,
        "result": {
            "correct": not runner.failures,
            "attempted": runner.attempted,
            "failed": len(runner.failures),
            "metrics": {k: {"value": result[k], "unit": units[k]} for k in units},
        },
    }


def install_spans(tracer: Any, workload: str) -> None:
    """Wrap the module-level functions each layer is entered through."""
    from etl_framework_spark import pipeline

    if workload != "etl_jobs":
        return
    tracer.patch(pipeline, "read_source", "sources.read_source")
    tracer.patch(pipeline, "write_sink", "sources.write_sink")
    tracer.patch(pipeline, "substitute_params", "pipeline.compile")
    tracer.patch(pipeline.Pipeline, "__init__", "pipeline.compile")
    for op in list(pipeline.OPS):
        tracer.patch(pipeline.OPS, op, "pipeline.validate" if op == "validate" else "pipeline.ops")


def per_layer(
    warm: list, setup: dict[str, float], steady_item: str
) -> tuple[dict[str, float], list[str]]:
    """Per-layer metrics: the median over traced passes of each pass's
    total, plus the set-up split and the tracing overhead."""
    traced = [w for w in warm if w[0]]
    untraced = [w for w in warm if not w[0]]
    n_cores = cores()

    def med(key: str) -> float:
        return statistics.median(w[3].get(key, 0.0) for w in traced)

    out = {name: med(name) for name, _ in PER_LAYER}
    out["pipeline.ops_jobs"] = statistics.median(
        w[3].get("pipeline.ops_jobs", 0.0) + w[3].get("pipeline.validate_jobs", 0.0)
        for w in traced
    )
    out["spark.core_utilization"] = statistics.median(
        w[3].get("spark.executor_run_s", 0.0) / (w[1] * n_cores) for w in traced
    )
    for k in ("session.get_spark_s", "queries.import_s"):
        out[k] = setup[k]
    t_pass = statistics.median(w[1] for w in traced)
    u_pass = statistics.median(w[1] for w in untraced)
    out["trace.traced_pass_s"] = t_pass
    out["trace.untraced_pass_s"] = u_pass
    out["trace.overhead_frac"] = t_pass / u_pass - 1

    sanity = []
    for i, w in enumerate(traced):
        if w[3].get("spark.executor_run_s", 0.0) > w[1] * n_cores:
            sanity.append(f"traced pass {i}: executor run time exceeds wall x {n_cores} cores")
    counts = {w[3]["_jobs_by_item"].get(steady_item) for w in traced}
    if len(counts) > 1:
        sanity.append(f"{steady_item}: Spark job count differs between passes: {sorted(counts)}")
    out["trace.sanity_failures"] = len(sanity)
    return out, sanity


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOAD_SF), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale")
    args = ap.parse_args(argv)

    missing = [p for p in ("etl_framework_spark", "__spark_entry__.py", "tools/check.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".work"))
    cwd = os.getcwd()
    try:
        prepare(work)
        sys.path.insert(0, HERE)
        out = measure(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.join(HERE, ".work"))
    print(json.dumps(out["details"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
