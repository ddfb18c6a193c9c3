"""Spans and Spark-side counters for the traced run.

A ``Tracer`` records one span per call the benchmark makes into an
engine layer: name (``<layer>.<op>``), start, end, parent and run id,
plus counts read from Spark over the span's job-id window. Spans are
kept in memory; the run writes them out once, when it ends. A layer's
self time is its spans' time minus the part covered by child spans.

``NullTracer`` has the same interface and does nothing; untraced runs,
which give the end-to-end numbers, use it.

Counts come from Spark's own status store (jobs, stages, task run
times, shuffle/spill/input bytes), the JVM's garbage-collector MXBeans,
the block manager's storage info and ``/proc``; nothing parses logs.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class SparkProbe:
    """Read-only views of a live SparkContext's status store and JVM."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.jvm = self.sc._gateway.jvm
        self.cores = self.sc.defaultParallelism
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def last_job_id(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def jobs_after(self, job_id: int) -> list[int]:
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= job_id:
                break
            out.append(jid)
        return out

    def stage_counts(self, job_ids: list[int]) -> dict:
        """Totals over the completed stages of ``job_ids``."""
        c = dict(jobs=len(job_ids), stages=0, tasks=0, task_time_s=0.0, task_skew=1.0,
                 shuffle_bytes=0, spill_bytes=0, input_bytes=0, scan_tasks=0)
        seen = set()
        for jid in job_ids:
            sids = self.store.job(jid).stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["task_time_s"] += sd.executorRunTime() / 1000.0
                c["shuffle_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                c["input_bytes"] += sd.inputBytes()
                if sd.inputBytes() > 0:
                    c["scan_tasks"] += sd.numCompleteTasks()
                if sd.numCompleteTasks() > 1:
                    summ = self.store.taskSummary(sid, sd.attemptId(), self._quantiles)
                    if summ.isDefined():
                        rt = summ.get().executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        if med > 0:
                            c["task_skew"] = max(c["task_skew"], mx / med)
        return c

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def pinned_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self.sc._jsc.sc().getRDDStorageInfo())

    def peak_rss_mb(self) -> float:
        """Peak resident set of the JVM plus this Python process."""
        jvm_pid = self.jvm.java.lang.ProcessHandle.current().pid()
        return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Tracer:
    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.probe: SparkProbe | None = None
        self.phase = ""  # "cold" or "steady", set by the workload

    def attach(self, spark) -> None:
        """Start reading Spark counters (once the session exists)."""
        self.probe = SparkProbe(spark)

    @contextmanager
    def span(self, name: str, counts: bool = False, **attrs) -> Iterator[Span]:
        """Time ``name``; with ``counts``, also total the stages of the
        jobs it started (read at once: the status store keeps only the
        most recent jobs)."""
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, 0.0, parent, self.run_id,
                 attrs={"phase": self.phase, **attrs})
        self.spans.append(s)
        self._stack.append(s)
        mark = self.probe.last_job_id() if self.probe else None
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.probe is not None:
                s.attrs["job_ids"] = self.probe.jobs_after(mark)
                if counts:
                    s.attrs["stages"] = self.probe.stage_counts(s.attrs["job_ids"])

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, excluding time covered by child spans."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.duration
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.duration - child_time[s.id]
        return out

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record nothing."""

    enabled = False
    probe = None
    phase = ""

    def attach(self, spark) -> None:
        pass

    @contextmanager
    def span(self, name: str, counts: bool = False, **attrs) -> Iterator[None]:
        yield None


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, math.ceil(q / 100.0 * len(xs)) - 1))
    return xs[k]


def median(values: list[float]) -> float:
    return statistics.median(values)
