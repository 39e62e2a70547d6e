"""Measurement from outside the program: Spark status-store deltas, a peak
RSS sampler, and in-memory spans.

Everything here reads Spark's in-process status store
(`AppStatusStore`), which is kept even with `spark.ui.enabled=false`.
Deltas are taken by stage and job id: ids only grow, so "the stages of an
interval" are the completed stages whose id is above the largest id seen at
its start. That counts jobs run on other threads too (streaming queries run
their micro-batches on stream threads, outside the caller's job group).
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

STAGE_FIELDS = ("stages", "tasks", "cpu_s", "run_s", "gc_s", "shuffle_r_bytes",
                "shuffle_w_bytes", "spill_bytes", "input_bytes", "output_bytes",
                "critical_path_s")


class StatusStore:
    """Reads completed stages and jobs from the Spark driver's status
    store. Both lists come newest first, so a delta walks only the new
    entries."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = spark._jvm
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)
        # quantile 1.0 of a stage's task summary is its slowest task
        self._max_quantile = sc._gateway.new_array(self._jvm.double, 1)
        self._max_quantile[0] = 1.0

    def _stages(self):
        L = self._jvm.java.util.ArrayList
        return self._store.stageList(L(), False, False, self._no_quantiles, L())

    def _jobs(self):
        return self._store.jobsList(self._jvm.java.util.ArrayList())

    def mark(self) -> tuple[int, int]:
        """(largest stage id, largest job id) known now."""
        stages, jobs = self._stages(), self._jobs()
        return (stages.apply(0).stageId() if stages.size() else -1,
                jobs.apply(0).jobId() if jobs.size() else -1)

    def delta(self, since: tuple[int, int]) -> dict[str, float]:
        """Totals over the stages and jobs that started after `since`."""
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= since[0]:
                break
            if s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["run_s"] += s.executorRunTime() / 1e3
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_r_bytes"] += s.shuffleLocalBytesRead() + s.shuffleRemoteBytesRead()
            out["shuffle_w_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["input_bytes"] += s.inputBytes()
            out["output_bytes"] += s.outputBytes()
            dist = self._store.taskSummary(s.stageId(), s.attemptId(), self._max_quantile)
            if dist.isDefined():
                out["critical_path_s"] += dist.get().duration().apply(0) / 1e3
        jobs = self._jobs()
        n = 0
        while n < jobs.size() and jobs.apply(n).jobId() > since[1]:
            n += 1
        out["jobs"] = float(n)
        return out


class RssSampler:
    """Peak resident set size of this Python process plus its JVM, sampled
    from /proc by one daemon thread."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.pids = [os.getpid()]
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def add_pid(self, pid: int) -> None:
        self.pids = [*self.pids, pid]

    @staticmethod
    def _rss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            return 0

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, sum(self._rss(p) for p in self.pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    counters: dict[str, float] = field(default_factory=dict)


class Tracer:
    """In-memory spans around calls into the program's public functions,
    each with the status-store delta of its interval. A disabled tracer
    times nothing and reads no counters."""

    def __init__(self, store: StatusStore | None, run_id: str):
        self.store = store
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self.overhead_s = 0.0  # time spent reading counters inside spans

    @property
    def enabled(self) -> bool:
        return self.store is not None

    def span(self, name: str):
        return _SpanCtx(self, name)

    def total(self, name: str, key: str | None = None) -> float:
        """Sum of durations (or of counter `key`) over spans named `name`."""
        return sum((s.end - s.start) if key is None else s.counters.get(key, 0.0)
                   for s in self.spans if s.name == name)

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        if self.t.enabled:
            t0 = time.perf_counter()
            self.mark = self.t.store.mark()
            self.parent = self.t._stack[-1] if self.t._stack else None
            self.t._stack.append(self.name)
            self.start = time.perf_counter()
            self.t.overhead_s += self.start - t0
        return self

    def __exit__(self, *exc):
        if self.t.enabled:
            end = time.perf_counter()
            self.t._stack.pop()
            counters = self.t.store.delta(self.mark)
            counters["driver_s"] = end - self.start - counters["critical_path_s"]
            self.t.spans.append(Span(self.name, self.start, end, self.parent, self.t.run_id, counters))
            self.t.overhead_s += time.perf_counter() - end
        return False


# engine counters reported per scope (`refresh.*`, `cycle.*`), with units
SCOPE_UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "cpu_s": "s",
               "gc_s": "s", "shuffle_r_bytes": "bytes", "shuffle_w_bytes": "bytes",
               "spill_bytes": "bytes", "critical_path_s": "s", "driver_s": "s"}


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def dir_files(path: str) -> dict[str, int]:
    """Every file under `path` with its size."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # vacuumed while walking
                pass
    return out


def written_since(before: dict[str, int], path: str) -> tuple[int, int]:
    """(bytes, parquet files) written under `path` since the `before`
    listing: new files, and files whose size changed."""
    after = dir_files(path)
    new = [p for p, n in after.items() if before.get(p) != n]
    return sum(after[p] for p in new), sum(p.endswith(".parquet") for p in new)
