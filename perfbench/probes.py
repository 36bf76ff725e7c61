"""Observation of a running session from outside the program.

Everything here reads Spark's status APIs (``statusTracker``, the status
store behind it, the listener bus, ``getRDDStorageInfo``), ``/proc`` and a
Python ``StreamingQueryListener``; the spans come from wrapping the public
names the upload command calls. Nothing in the program is changed.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

_CLK = os.sysconf("SC_CLK_TCK")
_MB = 1024.0 * 1024.0


# --------------------------------------------------------------------------
# /proc
# --------------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(ppid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and int(st[1]) == ppid:
                out.append(int(name))
    return out


def python_worker_pids(jvm_pid: int) -> list[int]:
    """The pyspark daemon(s) the JVM started."""
    return [p for p in _children(jvm_pid) if "pyspark" in _cmdline(p) and "daemon" in _cmdline(p)]


@dataclass
class CpuSample:
    driver_py: float
    jvm: float
    py_workers: float


def cpu_sample(jvm_pid: int) -> CpuSample:
    """CPU seconds used so far by this process, the JVM and the Python
    workers. A worker's time lands in the daemon's child counters once the
    daemon reaps it, so daemon (self + reaped) plus live workers is
    monotonic."""
    t = os.times()
    jvm = _stat(jvm_pid)
    jvm_s = (int(jvm[11]) + int(jvm[12])) / _CLK if jvm else 0.0
    workers = 0
    for d in python_worker_pids(jvm_pid):
        st = _stat(d)
        if st:
            workers += sum(int(x) for x in st[11:15])
        for w in _children(d):
            st = _stat(w)
            if st:
                workers += int(st[11]) + int(st[12])
    return CpuSample(t.user + t.system, jvm_s, workers / _CLK)


# --------------------------------------------------------------------------
# Spark status
# --------------------------------------------------------------------------

@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    intervals: list[tuple[float, float]] = field(default_factory=list)  # epoch seconds


class JobCursor:
    """Hands out the ids of the Spark jobs started since the last call.

    Job ids are sequential; after draining the listener bus every started
    job is visible to ``statusTracker().getJobInfo``. In a closed loop the
    jobs between two calls belong to the op that ran between them.
    """

    # The listener bus drops events when its queue overflows, which would
    # leave a hole in the visible ids; look a few ids past one.
    _LOOKAHEAD = 4

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.next_id = 0
        self.take()

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def take(self) -> list[int]:
        self.drain()
        ids = []
        while True:
            found = next(
                (j for j in range(self.next_id, self.next_id + self._LOOKAHEAD)
                 if self.tracker.getJobInfo(j) is not None),
                None,
            )
            if found is None:
                return ids
            ids.append(found)
            self.next_id = found + 1

    def stats(self, job_ids: list[int]) -> JobStats:
        """Job and stage totals from the status store for ``job_ids``."""
        store = self.sc._jsc.sc().statusStore()
        out = JobStats(jobs=len(job_ids))
        stage_ids: set[int] = set()
        for j in job_ids:
            jd = store.job(j)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                out.intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
            ids = jd.stageIds().mkString(",")
            stage_ids.update(int(s) for s in ids.split(",") if s)
        for s in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # noqa: BLE001 — a stage skipped before it was ever attempted
                continue
            if str(sd.status().toString()) == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += sd.numTasks()
            out.failed_tasks += sd.numFailedTasks()
            out.task_run_s += sd.executorRunTime() / 1e3
            out.task_cpu_s += sd.executorCpuTime() / 1e9
            out.gc_s += sd.jvmGcTime() / 1e3
            out.shuffle_read_mb += sd.shuffleReadBytes() / _MB
            out.shuffle_write_mb += sd.shuffleWriteBytes() / _MB
            out.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
        return out


def storage_mb(spark, name_prefix: str = "") -> float:
    """MB of cached blocks (memory + disk), optionally only for RDDs whose
    name starts with ``name_prefix``."""
    total = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        if str(info.name()).startswith(name_prefix):
            total += info.memSize() + info.diskSize()
    return total / _MB


def single_partition_exchanges(df) -> int:
    """``Exchange SinglePartition`` nodes in the DataFrame's physical plan."""
    return str(df._jdf.queryExecution().executedPlan().toString()).count("Exchange SinglePartition")


class StreamStats(StreamingQueryListener):
    """Totals over every micro-batch progress event of the session."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches = 0
        self.input_rows = 0
        self.duration_s: dict[str, float] = defaultdict(float)
        self.state_rows = 0
        self.state_bytes = 0

    def onQueryStarted(self, event) -> None:  # noqa: N802 — listener API
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        with self._lock:
            self.batches += 1
            self.input_rows += p.numInputRows
            for k, v in (p.durationMs or {}).items():
                self.duration_s[k] += v / 1e3
            ops = p.stateOperators or []
            self.state_rows = max(self.state_rows, sum(s.numRowsTotal for s in ops))
            self.state_bytes = max(self.state_bytes, sum(s.memoryUsedBytes for s in ops))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Span:
    span_id: int
    parent: int | None
    op: int
    name: str
    start: float
    end: float


class Tracer:
    """In-memory spans around calls into the program's layers.

    ``wrap`` returns a callable that records a span, parented to the
    innermost open span of the calling thread, or to the current op's
    root span for threads the program starts itself.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op = -1
        self.root: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> tuple:
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self.root
        stack.append(sid)
        return sid, parent, name, time.perf_counter()

    def close(self, token: tuple) -> None:
        sid, parent, name, start = token
        end = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(Span(sid, parent, self.op, name, start, end))

    def begin_op(self, op: int, name: str) -> tuple:
        """Open the root span of op ``op``."""
        self.op, self.root = op, None
        token = self.open(name)
        self.root = token[0]
        return token

    def wrap(self, fn, name: str, on_result=None):
        def traced(*args, **kwargs):
            token = self.open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.close(token)
            if on_result is not None:
                on_result(result)
            return result

        return traced

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out
