"""Spans, counts and Spark stage totals recorded around calls into the
engine's layers.

A span has a name, an op id shared by every span of one op, a parent, a
start and an end. Spans that run Spark jobs set a job group
(``<op>/<span>``), so the jobs, stages and tasks they fire are attributed
to them from the status store. Everything stays in memory until
``write`` at the end of the run. A disabled tracer records nothing and
makes no Spark calls; it is what untraced runs use.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: str
    parent: Span | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


# stage fields summed per job group: (status-store getter, key, scale)
_STAGE_FIELDS = (
    ("executorRunTime", "executor_run_s", 1e-3),
    ("executorCpuTime", "executor_cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("shuffleWriteBytes", "shuffle_write_mb", 2**-20),
    ("shuffleReadBytes", "shuffle_read_mb", 2**-20),
    ("shuffleFetchWaitTime", "fetch_wait_s", 1e-3),
    ("diskBytesSpilled", "spill_mb", 2**-20),
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str, jobs: bool = False):
        """Time the block as span ``name`` of ``op``; with ``jobs``, also
        attribute the Spark jobs it runs and record their stage totals."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack and self._stack[-1].op == op else None
        sp = Span(name, op, parent, 0.0)
        group = f"{op}/{name}"
        if jobs:
            self.spark.sparkContext.setJobGroup(group, group, False)
        self._stack.append(sp)
        t1 = time.perf_counter()
        sp.start = t1
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if jobs:
                self.spark.sparkContext._jsc.clearJobGroup()
                sp.counts.update(self.stage_totals(group))
            self.overhead_s += (t1 - t0) + (time.perf_counter() - sp.end)

    def _stages(self, group: str) -> tuple[int, list]:
        """(job count, latest attempt of each stage) of a job group, read
        from the status store once the listener bus has drained."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        defaults = [getattr(store, f"stageData$default${i}")() for i in (2, 3, 4, 5)]
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            stage_ids.update(info.stageIds if info else [])
        stages = []
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, *defaults)
            if not attempts.isEmpty():
                stages.append(attempts.last())
        return len(job_ids), stages

    def stage_totals(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks and summed stage metrics of a job group.
        Skipped stages, whose shuffle output was reused, do not count."""
        jobs, stages = self._stages(group)
        out = {"jobs": float(jobs), "stages": 0.0, "tasks": 0.0}
        out.update({key: 0.0 for _, key, _ in _STAGE_FIELDS})
        for stage in stages:
            if stage.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += stage.numCompleteTasks()
            for getter, key, scale in _STAGE_FIELDS:
                out[key] += getattr(stage, getter)() * scale
        return out

    def task_skew(self, group: str) -> float:
        """Slowest task over median task, in the job group's stage with the
        most executor run time."""
        _, stages = self._stages(group)
        if not stages:
            return 1.0
        busiest = max(stages, key=lambda s: s.executorRunTime())
        store = self.spark.sparkContext._jsc.sc().statusStore()
        it = store.taskList(busiest.stageId(), busiest.attemptId(), 100_000).iterator()
        durations = []
        while it.hasNext():
            d = it.next().duration()
            if d.isDefined():
                durations.append(float(d.get()))
        med = statistics.median(durations) if durations else 0.0
        return max(durations) / med if med > 0 else 1.0

    # -- reporting -----------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """{span name: summed self time}: each span minus its children."""
        child_time: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_time[id(sp.parent)] = child_time.get(id(sp.parent), 0.0) + sp.seconds
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + sp.seconds - child_time.get(id(sp), 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "op": sp.op, "name": sp.name,
                    "parent": sp.parent.name if sp.parent else None,
                    "start": round(sp.start, 6), "end": round(sp.end, 6),
                    "counts": sp.counts,
                }) + "\n")
