"""Tracing for the benchmark's traced runs, recorded from outside the package.

- ``Tracer`` keeps spans (name, start, end, parent, operation id) in memory
  around each call the benchmark makes into the package, and derives self
  time from them.
- ``job_group_stats`` reads Spark's own status store for every job one
  operation ran, keyed by the operation's job group (no stage-id watermark).
- ``BatchProgress`` is a ``StreamingQueryListener`` that keeps each
  micro-batch's ``durationMs`` breakdown.
- ``HostSample`` reads hypervisor steal and load average from /proc, as
  context for a noisy run.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with Spark's status-store times
    end: float
    parent: int | None
    op: int

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing and costs
    one attribute check per span, so untraced runs share the code path."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = 0

    def span(self, name: str):
        return _SpanCtx(self, name)

    def self_seconds(self, idx: int) -> float:
        """A span's duration minus the part its direct children cover."""
        s = self.spans[idx]
        covered = sum(c.seconds for c in self.spans if c.parent == idx)
        return s.seconds - covered

    def children(self, idx: int) -> dict[str, float]:
        out: dict[str, float] = {}
        for c in self.spans:
            if c.parent == idx:
                out[c.name] = out.get(c.name, 0.0) + c.seconds
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.idx = tracer, name, None

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            self.idx = len(t.spans)
            t.spans.append(Span(self.name, time.time(), 0.0, parent, t.op))
            t._stack.append(self.idx)
        return self

    def __exit__(self, *exc) -> None:
        if self.idx is not None:
            self.tracer.spans[self.idx].end = time.time()
            self.tracer._stack.pop()


# --- Spark status store ------------------------------------------------------

@dataclass
class JobGroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_rows: int = 0
    task_skew: float = 1.0  # max over stages of (max task / median task)
    job_s: float = 0.0  # time at least one job of the group was running
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    stage_intervals: list[tuple[float, float]] = field(default_factory=list)


def _opt_epoch(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def union_seconds(intervals: list[tuple[float, float]], lo: float = float("-inf"),
                  hi: float = float("inf")) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_group_stats(spark, group: str, wait_s: float = 5.0) -> JobGroupStats:
    """Aggregate the status store's job and stage records of one job group.

    The store is fed asynchronously by the listener bus, so this waits
    (bounded) until every job of the group has a completion time."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    deadline = time.time() + wait_s
    while True:
        jobs = [store.job(j) for j in sc.statusTracker().getJobIdsForGroup(group)]
        if all(j.completionTime().isDefined() for j in jobs) or time.time() > deadline:
            break
        time.sleep(0.02)
    out = JobGroupStats(jobs=len(jobs))
    no_status = store.__getattr__("stageData$default$3")()
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    for job in jobs:
        start, end = _opt_epoch(job.submissionTime()), _opt_epoch(job.completionTime())
        if start is not None and end is not None:
            out.job_intervals.append((start, end))
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            attempts = store.stageData(stage_ids.apply(i), False, no_status, True, quantiles)
            for k in range(attempts.size()):
                s = attempts.apply(k)
                if s.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += s.numTasks()
                out.failed_tasks += s.numFailedTasks()
                out.task_s += s.executorRunTime() / 1e3
                out.cpu_s += s.executorCpuTime() / 1e9
                out.gc_s += s.jvmGcTime() / 1e3
                out.shuffle_read_mb += s.shuffleReadBytes() / 1e6
                out.shuffle_write_mb += s.shuffleWriteBytes() / 1e6
                out.spill_mb += s.diskBytesSpilled() / 1e6
                out.input_rows += s.inputRecords()
                st, en = _opt_epoch(s.submissionTime()), _opt_epoch(s.completionTime())
                if st is not None and en is not None:
                    out.stage_intervals.append((st, en))
                dist = s.taskMetricsDistributions()
                if s.numTasks() > 1 and dist.isDefined():
                    run = dist.get().executorRunTime()
                    med, top = run.apply(0), run.apply(1)
                    if med > 0:
                        out.task_skew = max(out.task_skew, top / med)
    out.job_s = union_seconds(out.job_intervals)
    return out


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM, in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


# --- streaming progress -------------------------------------------------------

def make_progress_listener():
    """A StreamingQueryListener collecting every batch's durationMs, built
    lazily so importing this module does not import pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchProgress(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.batches: list[dict] = []
            self.terminated = 0

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            with self.lock:
                self.batches.append({"batch": p.batchId, "rows": p.numInputRows,
                                     **dict(p.durationMs)})

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self.lock:
                self.terminated += 1

        def drain(self, expect_terminated: int, wait_s: float = 5.0) -> list[dict]:
            deadline = time.time() + wait_s
            while time.time() < deadline:
                with self.lock:
                    if self.terminated >= expect_terminated:
                        break
                time.sleep(0.02)
            with self.lock:
                out, self.batches, self.terminated = self.batches, [], 0
            return out

    return BatchProgress()


# --- host context -----------------------------------------------------------

class HostSample:
    """Steal seconds accrued between construction and ``finish``, and the
    load average at ``finish``."""

    def __init__(self) -> None:
        self.hz = os.sysconf("SC_CLK_TCK")
        self.steal0 = self._steal_ticks()

    @staticmethod
    def _steal_ticks() -> int:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])

    def finish(self) -> dict:
        return {
            "steal_s": (self._steal_ticks() - self.steal0) / self.hz,
            "load_avg": list(os.getloadavg()),
        }
