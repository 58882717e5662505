"""Per-layer spans measured from outside the package.

Each public call a workload makes runs inside ``Tracer.span(name)``, which
tags every Spark job it triggers with a unique job group. After the op, the
JVM status store (readable with the UI disabled) gives each span's jobs and
stages: executor run time, GC time, shuffle writes, spills, failed tasks and
the [submission, completion] interval of every stage that ran. A span's
``driver_s`` is its wall time minus the union of those stage intervals.

The traced op makes the same calls and actions as the untraced one; only the
job-group tags and the status-store read after the op are added, and the
tracer times both as its own overhead.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_METRICS = (
    ("s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("task_s", "s"),
    ("shuffle_mb", "MB"),
)
ENGINE_METRICS = (("gc_s", "s"), ("spill_mb", "MB"), ("failed_tasks", "count"))
MB = 1e6


@dataclass
class Span:
    name: str
    group: str
    start_ms: float
    end_ms: float = 0.0
    jobs: int = 0
    stages: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    gc_s: float = 0.0
    spill_mb: float = 0.0
    failed_tasks: int = 0
    busy_ms: list = field(default_factory=list)

    @property
    def s(self) -> float:
        return (self.end_ms - self.start_ms) / 1e3

    @property
    def driver_s(self) -> float:
        """Wall time not covered by any of the span's stages."""
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(lo, self.start_ms), min(hi, self.end_ms)) for lo, hi in self.busy_ms
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return max(self.s - covered / 1e3, 0.0)


class Tracer:
    """Collects spans in memory; ``enabled=False`` makes ``span`` a no-op."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._pending: list[Span] = []
        self._seq = 0
        self._last_job = -1
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        self._seq += 1
        sp = Span(name=name, group=f"perfbench-{self._seq}", start_ms=time.time() * 1e3)
        self.sc.setJobGroup(sp.group, name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t0 = time.perf_counter()
            sp.end_ms = time.time() * 1e3
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._pending.append(sp)
            self.overhead_s += time.perf_counter() - t0

    def collect(self) -> None:
        """Attach engine numbers to the spans closed since the last call.

        The status store lists jobs and stages newest first, so only the
        entries newer than the last call are read."""
        if not self._pending:
            return
        t0 = time.perf_counter()
        store = self.sc._jsc.sc().statusStore()
        by_group = {sp.group: sp for sp in self._pending}
        stage_owner: dict[int, Span] = {}
        jobs = store.jobsList(None)
        top_job = self._last_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            job_id = int(job.jobId())
            if job_id <= self._last_job:
                break
            top_job = max(top_job, job_id)
            group = job.jobGroup()
            sp = by_group.get(group.get()) if group.isDefined() else None
            if sp is None:
                continue
            sp.jobs += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                stage_owner[int(ids.apply(k))] = sp
        self._last_job = top_job
        jvm = self.sc._gateway.jvm
        empty = self.sc._gateway.new_array(jvm.double, 0)
        stages = store.stageList(None, False, False, empty, None)
        low = min(stage_owner, default=None)
        for i in range(stages.size()):
            st = stages.apply(i)
            stage_id = int(st.stageId())
            if low is None or stage_id < low:
                break
            sp = stage_owner.get(stage_id)
            if sp is None or not st.submissionTime().isDefined():
                continue  # skipped stages never ran
            sp.stages += 1
            sp.task_s += st.executorRunTime() / 1e3
            sp.gc_s += st.jvmGcTime() / 1e3
            sp.shuffle_mb += st.shuffleWriteBytes() / MB
            sp.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            sp.failed_tasks += int(st.numFailedTasks())
            lo = st.submissionTime().get().getTime()
            done = st.completionTime()
            hi = done.get().getTime() if done.isDefined() else sp.end_ms
            sp.busy_ms.append((float(lo), float(hi)))
        self.spans.extend(self._pending)
        self._pending = []
        self.overhead_s += time.perf_counter() - t0
