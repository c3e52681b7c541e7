"""Spans around calls into the program, with the Spark work each caused.

Untraced, a span is only a wall-clock interval. Traced, each span runs
under its own Spark job group; right after the call returns, the span
reads the ids of its jobs from the status tracker and each job's stages
from the application status store (which is kept with the UI off).
Reading per call, not at the end, keeps every job inside the store's
`spark.ui.retainedJobs` window however many jobs a run launches.

Spans live in memory and are summarised when the run ends. The time
the tracer spends on its own bookkeeping is counted, so a traced run
can report what tracing cost.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.common import cpu_seconds


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    # CPU seconds of the whole process tree during the span
    cpu: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    # wall seconds of the span during which at least one job ran
    job_wall_s: float = 0.0
    # (executor run ms, stage id, attempt) of the busiest stage
    worst_stage: tuple | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count()
        sc = spark.sparkContext
        self._sc = sc
        if enabled:
            self._store = sc._jsc.sc().statusStore()
            self._bus = sc._jsc.sc().listenerBus()

    @contextmanager
    def span(self, name: str, **attrs):
        cpu0 = cpu_seconds()
        s = Span(name, time.perf_counter(), attrs=attrs)
        if not self.enabled:
            try:
                yield s
            finally:
                s.end = time.perf_counter()
                s.cpu = cpu_seconds() - cpu0
                self.spans.append(s)
            return
        group = f"perfbench-{next(self._ids)}-{name}"
        self._sc.setJobGroup(group, name)
        wall0 = time.time()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.cpu = cpu_seconds() - cpu0
            t0 = time.perf_counter()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._collect(s, group, wall0)
            self.spans.append(s)
            self.overhead_s += time.perf_counter() - t0

    def _collect(self, s: Span, group: str, wall0: float) -> None:
        # status-store updates arrive through the listener bus
        self._bus.waitUntilEmpty(30_000)
        tracker = self._sc.statusTracker()
        intervals = []
        for job_id in tracker.getJobIdsForGroup(group):
            s.jobs += 1
            job = self._store.job(job_id)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1000.0,
                                  done.get().getTime() / 1000.0))
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info is not None else []):
                try:
                    st = self._store.lastStageAttempt(stage_id)
                except Exception:  # py4j error: stage never ran (skipped)
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                run_ms = st.executorRunTime()
                s.tasks += st.numCompleteTasks()
                s.executor_run_s += run_ms / 1000.0
                s.input_bytes += st.inputBytes()
                s.shuffle_bytes += st.shuffleWriteBytes()
                s.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if st.numCompleteTasks() > 1 and (
                        s.worst_stage is None or run_ms > s.worst_stage[0]):
                    s.worst_stage = (run_ms, stage_id, st.attemptId())
        s.job_wall_s = _union_seconds(intervals, wall0, wall0 + s.seconds)

    def task_skew(self, spans: list[Span]) -> float:
        """max ÷ median task run time in the busiest multi-task stage
        among `spans`; 1.0 when no stage had more than one task."""
        worst = max((s.worst_stage for s in spans if s.worst_stage),
                    default=None)
        if not self.enabled or worst is None:
            return 1.0
        t0 = time.perf_counter()
        gw = self._sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(worst[1], worst[2], q)
        skew = 1.0
        if summary.isDefined():
            run = summary.get().executorRunTime()
            med, mx = run.apply(0), run.apply(1)
            skew = mx / med if med > 0 else 1.0
        self.overhead_s += time.perf_counter() - t0
        return skew


def _union_seconds(intervals: list[tuple[float, float]], lo: float,
                   hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
