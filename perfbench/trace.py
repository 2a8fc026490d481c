"""Tracing for the benchmark's traced runs.

- :class:`Tracer` keeps spans (name, start, end, parent, op id) in memory;
  :func:`self_times` gives each span's duration minus what its children
  cover.
- :class:`SparkCounters` reads Spark's status store by job/stage id above a
  per-op watermark, after draining the listener bus. Ops run one at a time,
  so every job or stage id past the watermark belongs to the op, including
  the jobs a streaming query runs on its own thread.
- :class:`ProgressLog` is a ``StreamingQueryListener`` that keeps each
  micro-batch's progress figures.
- :class:`ProcMemory` reads ``VmHWM`` (peak resident set) from ``/proc`` for
  the driver, the JVM and every Python worker under it.
- :class:`LoggedDbcDataSource` is the engine's ``dbc`` source with each file
  decode logged (path, start, end) so decoded files can be counted.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from pyspark.sql.streaming import StreamingQueryListener

from etl_lala_spark.sources.dbc_datasource import (
    DbcDataSource,
    DbcReader,
    DbcStreamReader,
)
from perfbench.stats import interval_union

# --- spans --------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None, parent: Span | None = None):
        """Record a span; its parent is ``parent`` or the innermost open
        span of this thread, and it inherits that parent's op id."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        up = parent if parent is not None else (stack[-1] if stack else None)
        span = Span(
            next(self._ids),
            name,
            time.perf_counter(),
            0.0,
            up.id if up else None,
            op if op is not None else (up.op if up else None),
        )
        stack.append(span)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            stack.pop()
            self.spans.append(span)

    def current(self) -> Span | None:
        """The innermost open span of this thread."""
        stack = self._stack()
        return stack[-1] if stack else None

    def dump(self, origin: float) -> list[dict]:
        """Spans as dicts, times relative to ``origin``, with self time."""
        own = self_times(self.spans)
        out = []
        for s in sorted(self.spans, key=lambda s: s.start):
            d = asdict(s)
            d["start"] = round(s.start - origin, 6)
            d["end"] = round(s.end - origin, 6)
            d["self_s"] = round(own[s.id], 6)
            out.append(d)
        return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - interval_union(children[s.id], s.start, s.end)
        for s in spans
    }


# --- Spark status-store counters ------------------------------------------------


@dataclass
class JobRec:
    id: int
    submitted: float  # epoch seconds
    completed: float


@dataclass
class StageRec:
    id: int
    skipped: bool
    tasks: int
    run_s: float
    cpu_s: float
    shuffle_write_b: int
    shuffle_read_b: int
    spill_b: int


def above_watermark(length: int, at: Callable[[int], object], ident: Callable[[object], int],
                    watermark: int) -> list:
    """Entries of a status-store list with id above ``watermark``.

    The store lists jobs and stages newest first, so the walk stops at the
    first entry at or below the watermark."""
    out = []
    for i in range(length):
        item = at(i)
        if ident(item) <= watermark:
            break
        out.append(item)
    return out


def op_counters(jobs: list[JobRec], stages: list[StageRec], t0: float, t1: float) -> dict[str, float]:
    """Per-op Spark counters; ``t0``/``t1`` bound the op in epoch seconds.

    ``spark.driver_gap_s`` is op wall time minus the union of its jobs'
    submission-to-completion intervals."""
    ran = [s for s in stages if not s.skipped]
    busy = interval_union([(j.submitted, j.completed) for j in jobs], t0, t1)
    mb = 1024 * 1024
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(ran),
        "spark.tasks": sum(s.tasks for s in ran),
        "spark.task_run_s": sum(s.run_s for s in ran),
        "spark.task_cpu_s": sum(s.cpu_s for s in ran),
        "spark.shuffle_write_mb": sum(s.shuffle_write_b for s in ran) / mb,
        "spark.shuffle_read_mb": sum(s.shuffle_read_b for s in ran) / mb,
        "spark.spill_mb": sum(s.spill_b for s in ran) / mb,
        "spark.driver_gap_s": max(0.0, (t1 - t0) - busy),
    }


def _job_id(j) -> int:
    return j.jobId()


def _stage_id(s) -> int:
    return s.stageId()


def _epoch(opt_date) -> float:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else 0.0


class SparkCounters:
    """Exact per-op job/stage counters from the application status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._store = self._jsc.statusStore()
        self.drain()
        self.job_wm = self._max_id(self._jobs(), _job_id)
        self.stage_wm = self._max_id(self._stages(), _stage_id)

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _jobs(self):
        return self._store.jobsList(None)

    def _stages(self):
        jl = self._jvm.java.util.ArrayList
        return self._store.stageList(jl(), False, False,
                                     self._gateway.new_array(self._jvm.double, 0), jl())

    @staticmethod
    def _max_id(seq, ident) -> int:
        return ident(seq.apply(0)) if seq.length() else -1

    def mark(self) -> None:
        """Move the watermarks past every job and stage seen so far."""
        self.drain()
        self.job_wm = max(self.job_wm, self._max_id(self._jobs(), _job_id))
        self.stage_wm = max(self.stage_wm, self._max_id(self._stages(), _stage_id))

    def collect(self, t0: float, t1: float) -> dict[str, float]:
        """Counters for everything that ran since the last watermark, then
        advance the watermarks."""
        self.drain()
        js = self._jobs()
        jobs = [
            JobRec(j.jobId(), _epoch(j.submissionTime()), _epoch(j.completionTime()))
            for j in above_watermark(js.length(), js.apply, _job_id, self.job_wm)
        ]
        ss = self._stages()
        stages = [
            StageRec(
                s.stageId(),
                s.status().toString() == "SKIPPED",
                s.numCompleteTasks(),
                s.executorRunTime() / 1e3,
                s.executorCpuTime() / 1e9,
                s.shuffleWriteBytes(),
                s.shuffleReadBytes(),
                s.memoryBytesSpilled(),
            )
            for s in above_watermark(ss.length(), ss.apply, _stage_id, self.stage_wm)
        ]
        if jobs:
            self.job_wm = max(j.id for j in jobs)
        if stages:
            self.stage_wm = max(s.id for s in stages)
        return op_counters(jobs, stages, t0, t1)

    def jvm_heap_peak_mb(self) -> float:
        """Sum of the JVM heap pools' peak usage since start."""
        mf = self._jvm.java.lang.management.ManagementFactory
        total = 0
        for pool in mf.getMemoryPoolMXBeans():
            if pool.getType().toString() == "Heap memory":
                total += pool.getPeakUsage().getUsed()
        return total / (1024 * 1024)


# --- streaming progress -------------------------------------------------------------


class ProgressLog(StreamingQueryListener):
    """Per-micro-batch figures of every streaming query in the session."""

    def __init__(self):
        self.batches: list[dict[str, float]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows == 0:
            return
        d = p.durationMs
        self.batches.append({
            "trigger_s": d.get("triggerExecution", 0) / 1e3,
            "add_batch_s": d.get("addBatch", 0) / 1e3,
            "wal_commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


# --- process memory ------------------------------------------------------------------


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of a live process, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root``."""
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


class ProcMemory:
    """Peak memory of the driver, the JVM, and the Python workers the JVM
    starts. Workers can exit between reads, so a background thread samples
    their ``VmHWM`` every ``interval`` seconds."""

    def __init__(self, jvm_pid: int, interval: float = 0.25):
        self.jvm_pid = jvm_pid
        self.worker_peak: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,), daemon=True)
        self._thread.start()

    def sample(self) -> None:
        for pid in descendants(self.jvm_pid):
            if _is_python(pid):
                hwm = vm_hwm_mb(pid)
                self.worker_peak[pid] = max(hwm, self.worker_peak.get(pid, 0.0))

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def worker_peak_mb(self) -> float:
        return max(self.worker_peak.values(), default=0.0)

    def driver_plus_jvm_mb(self) -> float:
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.jvm_pid)


# --- decode-logged dbc source -----------------------------------------------------------

DECODE_LOG_ENV = "PERFBENCH_DECODE_LOG"


def _logged(read: Callable[[object], Iterator[object]], partition) -> Iterator[object]:
    t0 = time.time()
    batches = list(read(partition))
    with open(os.environ[DECODE_LOG_ENV], "a") as fh:
        fh.write(f"{partition.path}\t{t0:.6f}\t{time.time():.6f}\n")
    yield from batches


class _LoggedDbcReader(DbcReader):
    def read(self, partition):
        return _logged(super().read, partition)


class _LoggedDbcStreamReader(DbcStreamReader):
    def read(self, partition):
        return _logged(super().read, partition)


class LoggedDbcDataSource(DbcDataSource):
    """The ``dbc`` format with every file decode appended to the file named
    by ``$PERFBENCH_DECODE_LOG`` (set before the JVM starts, so Python
    workers inherit it). The log costs one small append per file."""

    def reader(self, schema):
        r = super().reader(schema)
        return _LoggedDbcReader(r.files, r.columns, r.limit, r.corrupt_col)

    def streamReader(self, schema):
        r = super().streamReader(schema)
        return _LoggedDbcStreamReader(r.path, r.columns, r.limit, r.corrupt_col)


@dataclass
class Decode:
    path: str
    start: float
    end: float


def read_decode_log(path: str) -> list[Decode]:
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as fh:
        for line in fh:
            p, t0, t1 = line.rstrip("\n").split("\t")
            out.append(Decode(p, float(t0), float(t1)))
    return out
