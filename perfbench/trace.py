"""Spans around the harness's calls into each library layer.

With tracing off a span is one clock read at each end. With tracing on,
each span also runs its Spark work under a job group of its own and, on
exit, reads that group's stages from the application status store
(``sc._jsc.sc().statusStore()``, which works with the UI disabled), plus
the Python workers' CPU from /proc. Spans are kept in memory and written
out with the run record.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from host import python_worker_cpu_s

MB = 1024.0 * 1024.0


@dataclass
class Stage:
    stage_id: int
    tasks: int
    start_ms: int
    end_ms: int
    run_s: float
    cpu_s: float
    shuffle_write_mb: float
    spill_mb: float
    output_mb: float
    output_rows: int
    task_ms: list[int] = field(default_factory=list)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    stages: list[Stage] = field(default_factory=list)
    jobs: int = 0
    py_worker_cpu_s: float = 0.0
    counts: dict = field(default_factory=dict)
    children: list["Span"] = field(default_factory=list)
    group: str = ""
    epoch_start: float = 0.0  # wall clock, to place stage times in the span

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "wall_s": self.wall_s,
            "jobs": self.jobs,
            "stages": len(self.stages),
            "task_cpu_s": sum(s.cpu_s for s in self.stages),
            "task_run_s": sum(s.run_s for s in self.stages),
            "shuffle_write_mb": sum(s.shuffle_write_mb for s in self.stages),
            "spill_mb": sum(s.spill_mb for s in self.stages),
            "py_worker_cpu_s": self.py_worker_cpu_s,
            **self.counts,
            "children": [c.as_dict() for c in self.children],
        }

    def child(self, name: str) -> "Span | None":
        return next((c for c in self.children if c.name == name), None)


def _opt_ms(opt) -> int:
    return opt.get().getTime() if opt.isDefined() else 0


class Tracer:
    def __init__(self, spark, enabled: bool, jvm_pid: int):
        self.spark = spark
        self.enabled = enabled
        self.jvm_pid = jvm_pid
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0
        self.read_s = 0.0  # time spent reading the status store and /proc

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter())
        if parent is not None:
            parent.children.append(sp)
        else:
            self.spans.append(sp)
        if not self.enabled:
            self._stack.append(sp)
            try:
                yield sp
            finally:
                sp.end = time.perf_counter()
                self._stack.pop()
            return
        sc = self.spark.sparkContext
        self._seq += 1
        group = sp.group = f"bench-{self._seq}-{name}"
        t0 = time.perf_counter()
        cpu0 = python_worker_cpu_s(self.jvm_pid)
        self.read_s += time.perf_counter() - t0
        sc.setJobGroup(group, name, False)
        self._stack.append(sp)
        sp.epoch_start = time.time()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            t0 = time.perf_counter()
            self._collect(sp, group)
            sp.py_worker_cpu_s = python_worker_cpu_s(self.jvm_pid) - cpu0
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name, False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.read_s += time.perf_counter() - t0

    def _collect(self, sp: Span, group: str) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        sp.jobs = len(job_ids)
        for jid in sorted(job_ids):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                tasks = store.taskList(sid, sd.attemptId(), sd.numTasks())
                sp.stages.append(
                    Stage(
                        stage_id=sid,
                        tasks=sd.numTasks(),
                        start_ms=_opt_ms(sd.submissionTime()),
                        end_ms=_opt_ms(sd.completionTime()),
                        run_s=sd.executorRunTime() / 1e3,
                        cpu_s=sd.executorCpuTime() / 1e9,
                        shuffle_write_mb=sd.shuffleWriteBytes() / MB,
                        spill_mb=sd.diskBytesSpilled() / MB,
                        output_mb=sd.outputBytes() / MB,
                        output_rows=sd.outputRecords(),
                        task_ms=[
                            tasks.apply(i).duration().get()
                            for i in range(tasks.size())
                            if tasks.apply(i).duration().isDefined()
                        ],
                    )
                )


def task_skew(stage: Stage) -> float:
    """max / median task time of one stage (1.0 = perfectly even)."""
    if not stage.task_ms:
        return 1.0
    med = statistics.median(stage.task_ms)
    return max(stage.task_ms) / med if med > 0 else 1.0
