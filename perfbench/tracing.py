"""Spans around the benchmark's calls into each layer, and the Spark
work each span caused.

A span records its name, start, end, parent span and item. While a
span is open, Spark jobs are tagged with the span's job group, so after
each item the tracer can read back from the JVM status stores which
jobs, stages and tasks every span launched, before the
``spark.ui.retained*`` limits evict them. Everything stays in memory
until the run ends. When the tracer is off, ``span`` is a shared no-op
context and nothing is patched.
"""

from __future__ import annotations

import contextlib
import functools
import re
import time
from collections import defaultdict
from typing import Any, Iterator

_NULL = contextlib.nullcontext()
_GROUP = "spark.jobGroup.id"
_PY_METRICS = {
    "data sent to Python workers": "operators.python_bytes_sent",
    "data returned from Python workers": "operators.python_bytes_returned",
}
_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,]+),(\d+),")


def _seq(s: Any) -> list:
    return [s.apply(i) for i in range(s.size())]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


class Tracer:
    def __init__(self, spark: Any):
        self.spark = spark
        self.sc = spark.sparkContext
        self.on = False
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self._item: str | None = None
        self._first_span = 0
        self._live_rdds = 0
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_exec = self._sql.executionsCount() - 1

    # -- spans ---------------------------------------------------------------
    def span(self, name: str) -> Any:
        return self._span(name) if self.on else _NULL

    @contextlib.contextmanager
    def _span(self, name: str) -> Iterator[None]:
        idx = len(self.spans)
        rec = {
            "name": name,
            "item": self._item,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setLocalProperty(_GROUP, f"perfbench-{idx}")
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                _GROUP, f"perfbench-{self._stack[-1]}" if self._stack else None
            )

    @contextlib.contextmanager
    def item(self, name: str) -> Iterator[None]:
        self._item = name
        self._first_span = len(self.spans)
        self._live_rdds = 0
        with self.span("item"):
            yield

    def live_rdds(self) -> None:
        if self.on:
            self._live_rdds = self.sc._jsc.getPersistentRDDs().size()

    def patch(self, owner: Any, attr: Any, name: str) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict) with a
        wrapper that opens span ``name`` around each call."""
        is_dict = isinstance(owner, dict)
        orig = owner[attr] if is_dict else getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(name):
                return orig(*args, **kwargs)

        if is_dict:
            owner[attr] = traced
        else:
            setattr(owner, attr, traced)

    # -- harvest -------------------------------------------------------------
    def gc_s(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1e3

    def harvest(self) -> dict[str, float]:
        """Counters of the item that just ended: self time and jobs per
        span name, stage metrics, driver gap and Python transfer bytes."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        spans = self.spans[self._first_span :]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(spans):
            children = sum(
                c["end"] - c["start"]
                for c in spans
                if c["parent"] == self._first_span + i
            )
            out[f"{s['name']}_s"] += s["end"] - s["start"] - children
        item = spans[0]
        job_spans: list[tuple[float, float]] = []
        stage_ids: set[int] = set()
        tracker = self.sc.statusTracker()
        for i, s in enumerate(spans):
            for job_id in tracker.getJobIdsForGroup(f"perfbench-{self._first_span + i}"):
                job = self._store.job(job_id)
                out[f"{s['name']}_jobs"] += 1
                out["spark.jobs"] += 1
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    job_spans.append(
                        (
                            max(item["start"], job.submissionTime().get().getTime() / 1e3),
                            min(item["end"], job.completionTime().get().getTime() / 1e3),
                        )
                    )
                stage_ids.update(_seq(job.stageIds()))
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks()
            out["spark.executor_run_s"] += st.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["spark.input_bytes"] += st.inputBytes()
            out["spark.result_bytes"] += st.resultSize()
        out["driver.gap_s"] += item["end"] - item["start"] - _union_s(job_spans)
        out["cacheutil.live_rdds_after_item"] += self._live_rdds
        self._python_bytes(out)
        return dict(out)

    def _python_bytes(self, out: dict[str, float]) -> None:
        """Sum the Python-worker transfer metrics of SQL executions that
        finished since the last harvest."""
        n = self._sql.executionsCount()
        for ex in _seq(self._sql.executionsList(max(0, n - 64), 64)):
            if ex.executionId() <= self._last_exec:
                continue
            self._last_exec = max(self._last_exec, ex.executionId())
            wanted = {
                int(acc): _PY_METRICS[name]
                for name, acc in _PLAN_METRIC.findall(ex.metrics().toString())
                if name in _PY_METRICS
            }
            if not wanted:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            for acc, metric in wanted.items():
                v = values.get(acc)
                m = _SIZE.search(v.get()) if v.isDefined() else None
                if m:
                    out[metric] += float(m.group(1)) * _UNIT[m.group(2)]
