"""Tracing and run context for the benchmark.

Spans are recorded in the benchmark's own code, around its calls into
the engine's public functions; nothing inside the engine is changed.
They stay in memory and are written to one JSON file when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent) kept in memory. A disabled
    tracer records nothing and costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """A span timed elsewhere, such as by the load generator."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": self._stack[-1] if self._stack else None,
                               "start": start, "end": end, **attrs})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, name: str, scale: float = 1.0) -> float:
        d = self.durations(name)
        return statistics.median(d) * scale if d else 0.0

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh)


# ---------------------------------------------------------- Spark counters


class JobCounter:
    """Jobs, stages and tasks that ran under one job group, read from
    Spark's public status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jobs = self.stages = self.tasks = 0

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def collect(self, name: str) -> None:
        # the status store is fed by the listener bus; drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(name):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            self.jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    self.stages += 1
                    self.tasks += st.numTasks


# ------------------------------------------------------------ process tree


def _children(pid: int) -> list[int]:
    # each thread lists the children it started (the JVM starts the
    # Python worker daemon from a worker thread)
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            continue
    return out


def process_tree(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def tree_cpu_s(pids: list[int]) -> tuple[float, float]:
    """(user, system) CPU seconds of the live processes, each with what
    its reaped children used (utime+cutime, stime+cstime)."""
    tick = os.sysconf("SC_CLK_TCK")
    user = system = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        user += int(f[11]) + int(f[13])
        system += int(f[12]) + int(f[14])
    return user / tick, system / tick


def tree_rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


#: CPU seconds reference_loop_s takes on the core the benchmark's CPU
#: figures are scaled to (a 4-vCPU Xeon VM on a quiet host)
REFERENCE_CPU_S = 0.040


def reference_loop_s() -> float:
    """CPU seconds this thread spends on a fixed piece of pure-Python
    work: a gauge of how fast the host runs a core right now."""
    t = time.thread_time()
    d: dict[int, int] = {}
    n = 0
    for i in range(200_000):
        k = i & 1023
        d[k] = d.get(k, 0) + i
        n += len(str(i))
    return time.thread_time() - t


#: thread names (as truncated in /proc) of the JVM's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class ProcessSampler:
    """CPU time and resident memory of this process and everything it
    started except the load generator (driver, JVM, Python workers).

    CPU is split in three: the engine's user-mode work, the JVM's JIT
    compiler threads, and system time. JIT compilation runs in the
    background while code warms up, so the share of it that lands in a
    timed phase depends on how fast the phase ran, not only on the work
    done; system time grows with scheduling and lock contention when
    the host is busy. The engine's user CPU moves least with the host
    (time a vCPU is stolen is not counted to any process)."""

    def __init__(self, exclude: int | None = None):
        self.exclude = exclude
        self.peak_mb = 0.0
        self._is_jit: dict[tuple[int, int], bool] = {}
        self._jit_ns: dict[tuple[int, int], int] = {}  # last seen, kept when a thread ends

    def pids(self) -> list[int]:
        pids = process_tree(os.getpid())
        if self.exclude is not None:
            skip = set(process_tree(self.exclude))
            pids = [p for p in pids if p not in skip]
        return pids

    def track_jit(self, pids: list[int] | None = None) -> float:
        """Read the JIT compiler threads' CPU (schedstat, in ns); call
        it often enough that a compiler thread the JVM retires is seen
        shortly before it ends. Returns their CPU so far, in seconds."""
        for pid in self.pids() if pids is None else pids:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                key = (pid, int(tid))
                try:
                    if key not in self._is_jit:
                        with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                            self._is_jit[key] = fh.read().startswith(JIT_THREADS)
                    if self._is_jit[key]:
                        with open(f"/proc/{pid}/task/{tid}/schedstat") as fh:
                            self._jit_ns[key] = int(fh.read().split()[0])
                except OSError:
                    continue
        return sum(self._jit_ns.values()) / 1e9

    def cpu(self, pids: list[int] | None = None) -> tuple[float, float, float]:
        """(engine user, JIT, system) CPU seconds so far; subtract two
        readings. ``pids`` skips the walk of the process tree when the
        caller knows its processes. JIT threads count whole (they run
        almost only in user mode)."""
        pids = self.pids() if pids is None else pids
        jit = self.track_jit(pids)
        user, system = tree_cpu_s(pids)
        return user - jit, jit, system

    def since(self, start: tuple[float, float, float]) -> tuple[float, float, float]:
        return tuple(x - y for x, y in zip(self.cpu(), start))

    def sample(self) -> None:
        pids = self.pids()
        self.track_jit(pids)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(pids))


# ------------------------------------------------------------- run context


def _steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


class RunContext:
    """nproc, load average and the CPU steal over the workload, so an
    outlier run can be explained without a re-run."""

    def __init__(self):
        self.nproc = len(os.sched_getaffinity(0))
        self.load_start = os.getloadavg()
        self.steal_start = _steal_ticks()

    def finish(self) -> dict:
        return {
            "nproc": self.nproc,
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_s": (_steal_ticks() - self.steal_start) / os.sysconf("SC_CLK_TCK"),
        }
