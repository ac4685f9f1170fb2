"""Spans and counters for the traced run.

Spans are recorded by the harness around its own calls into each layer
of the program (nothing inside ``hangarbay_spark`` is instrumented).
Each span has a name, start, end, parent and the id of the op it
belongs to; spans stay in memory and are summarised at the end.

Counters come from three places, all read only when tracing is on:

- per span: the span's Spark jobs run under their own job group, and
  the status tracker gives that group's jobs and completed tasks;
- per stage: Spark's event log (enabled for traced runs only), parsed
  after the session stops;
- the driver JVM: GC MXBeans over py4j, and the JVM's peak resident
  set from ``/proc/<pid>/status``.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op,
    so the untraced run times the same code path minus the bookkeeping."""

    def __init__(self, enabled: bool, spark=None) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = 0
        self.overhead_s = 0.0  # time spent inside the collectors
        self.overhead_in_spans_s = 0.0  # the part of it inside a parent span

    @contextlib.contextmanager
    def op(self, name: str):
        """Root span of one client op."""
        if self.enabled:
            self._op += 1
        with self.span(name) as sp:
            yield sp

    @contextlib.contextmanager
    def span(self, name: str):
        """A span whose Spark jobs run under their own job group, so the
        span's ``jobs`` and ``tasks`` counts exclude its children's."""
        if not self.enabled:
            yield _NullSpan()
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self._op)
        self.spans.append(sp)
        self._stack.append(idx)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"span-{idx}", name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            jobs, tasks = self._group_counts(f"span-{idx}")
            sp.counts.update(jobs=jobs, tasks=tasks)
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(f"span-{parent}", self.spans[parent].name)
            dt = time.perf_counter() - sp.end
            self.overhead_s += dt
            if parent is not None:
                self.overhead_in_spans_s += dt

    def _group_counts(self, group: str) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numCompletedTasks
        return len(jobs), tasks

    # -- summaries -------------------------------------------------------

    def self_times(self) -> list[float]:
        """Per span: duration minus the part covered by its children
        (children of one parent never overlap: one client, one thread)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        return [sp.end - sp.start - c for sp, c in zip(self.spans, child)]

    def layer_table(self) -> dict[str, dict[str, float]]:
        """name -> {n, total_s, self_s, median_s} over all recorded spans."""
        selfs = self.self_times()
        by: dict[str, list[tuple[float, float]]] = defaultdict(list)
        for sp, s in zip(self.spans, selfs):
            by[sp.name].append((sp.end - sp.start, s))
        return {
            name: {
                "n": len(v),
                "total_s": sum(d for d, _ in v),
                "self_s": sum(s for _, s in v),
                "median_s": statistics.median(d for d, _ in v),
            }
            for name, v in sorted(by.items())
        }


class _NullSpan:
    """Stand-in when tracing is off: counts written to it are dropped."""

    def __init__(self) -> None:
        self.counts: dict[str, float] = {}


def jvm_gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def event_log_summary(log_dir: Path, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Sum task-level metrics of tasks launched inside any of ``windows``
    ((start, end) epoch ms) from the Spark event log under ``log_dir``."""
    out = dict(tasks=0, stages=0, task_run_s=0.0, scheduler_delay_s=0.0,
               task_gc_s=0.0, shuffle_write_bytes=0.0, spill_bytes=0.0)
    stages = set()
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with f.open() as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                ti, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                launch, finish = ti.get("Launch Time", 0), ti.get("Finish Time", 0)
                if not any(t0 <= launch <= t1 for t0, t1 in windows):
                    continue
                stages.add(ev.get("Stage ID"))
                run = tm.get("Executor Run Time", 0)
                deser = tm.get("Executor Deserialize Time", 0)
                ser = tm.get("Result Serialization Time", 0)
                fetch = ti.get("Getting Result Time", 0)
                sw = tm.get("Shuffle Write Metrics", {})
                out["tasks"] += 1
                out["task_run_s"] += run / 1000.0
                out["scheduler_delay_s"] += max(0, finish - launch - run - deser - ser - fetch) / 1000.0
                out["task_gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                out["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    out["stages"] = len(stages)
    return out
