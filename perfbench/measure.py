"""Outside-in measurement: process CPU and memory from /proc, Spark work
from the status store. Nothing here runs inside the program under test;
every number is read around the benchmark's own calls into it.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc: the process tree of this driver
# ---------------------------------------------------------------------------


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped children's cpu s) of one pid."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    fields = raw[raw.rfind(")") + 2:].split()
    # fields[0] is field 3 (state) of proc(5)
    ppid = int(fields[1])
    own = (int(fields[11]) + int(fields[12])) / _CLK
    reaped = (int(fields[13]) + int(fields[14])) / _CLK
    return ppid, own, reaped


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident memory with pages shared
    between processes (the forked Python workers share most of theirs)
    split among them, so a sum over processes counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcTree:
    """The driver Python process, its JVM child, and the JVM's Python
    workers (`pyspark.daemon` and the workers it forks)."""

    def __init__(self):
        self.root = os.getpid()
        self._kinds: dict[int, str] = {}

    def _snapshot(self) -> dict[int, tuple[int, float, float]]:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        return procs

    def _tree(self, procs) -> dict[int, str]:
        """pid → kind ('driver_py', 'jvm', 'pyworker') for the live tree."""
        children: dict[int, list[int]] = {}
        for pid, st in procs.items():
            children.setdefault(st[0], []).append(pid)
        kinds = {self.root: "driver_py"}
        stack = [(c, None) for c in children.get(self.root, [])]
        while stack:
            pid, parent_kind = stack.pop()
            kind = self._kinds.get(pid)
            if kind is None:
                if parent_kind in ("jvm", "pyworker"):
                    kind = "pyworker" if "python" in _cmdline(pid) else "jvm"
                else:
                    kind = "jvm" if "java" in _cmdline(pid) else "driver_py"
                self._kinds[pid] = kind
            kinds[pid] = kind
            stack.extend((c, kind) for c in children.get(pid, []))
        return kinds

    def cpu_and_memory(self) -> tuple[dict[str, float], int]:
        """CPU seconds so far per kind, and the tree's memory (PSS). A
        parent's reaped-children time is added for workers only: the
        daemon reaps its forked workers, the driver and JVM reap nothing
        that is not already counted live."""
        procs = self._snapshot()
        cpu = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
        mem = 0
        for pid, kind in self._tree(procs).items():
            _, own, reaped = procs[pid]
            cpu[kind] += own + (reaped if kind == "pyworker" else 0.0)
            mem += _pss(pid)
        return cpu, mem


def cpu_ticks() -> list[int]:
    """This machine's CPU time counters (the `cpu` line of /proc/stat);
    index 7 is `steal`, time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class PeakSampler:
    """Background thread: peak tree memory, and (when `storage` is given) peak
    bytes held by Spark's block manager for cached data. `mark()` starts a
    new window; `take()` returns the window's peaks."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.1,
                 storage=None, storage_every: int = 4):
        self.tree = tree
        self.interval_s = interval_s
        self.storage = storage
        self.storage_every = storage_every
        self._lock = threading.Lock()
        self._mem = 0
        self._cached = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakSampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        k = 0
        while not self._stop.wait(self.interval_s):
            _, mem = self.tree.cpu_and_memory()
            cached = 0
            if self.storage is not None and k % self.storage_every == 0:
                try:
                    cached = self.storage()
                except Exception:  # the session is stopping
                    cached = 0
            k += 1
            with self._lock:
                self._mem = max(self._mem, mem)
                self._cached = max(self._cached, cached)

    def mark(self) -> None:
        with self._lock:
            self._mem = 0
            self._cached = 0

    def take(self) -> tuple[int, int]:
        _, mem = self.tree.cpu_and_memory()
        with self._lock:
            return max(self._mem, mem), self._cached

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def storage_bytes(sc) -> int:
    """Bytes Spark holds for cached RDDs and DataFrames, memory plus disk."""
    return sum(
        int(r.memSize()) + int(r.diskSize())
        for r in sc._jsc.sc().getRDDStorageInfo()
    )


def union_seconds(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, -math.inf
    for a, b in sorted(spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SparkSpans:
    """Spans around the benchmark's calls into the program. Each span sets
    its own job group (thread-local); after the call returns it reads the
    group's jobs and stages from the status store. A span's Spark work
    includes that of the spans nested in it. Spans stay in memory until
    the run ends. `overhead_s` is the wall time spent in this class's own
    bookkeeping."""

    _SUMS = ("jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
             "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_s")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[dict] = []
        self._n = 0

    def open(self, layer: str) -> dict:
        t = time.perf_counter()
        self._n += 1
        span = {"id": f"perfbench-{self._n}", "layer": layer,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "_jobs": [], "_sums": dict.fromkeys(self._SUMS, 0)}
        self._stack.append(span)
        self.sc.setJobGroup(span["id"], layer)
        self.overhead_s += time.perf_counter() - t
        span["start"] = time.perf_counter()
        return span

    def close(self, span: dict, **counts) -> dict:
        span["end"] = time.perf_counter()
        t = time.perf_counter()
        span["wall_s"] = span["end"] - span["start"]
        self._stack.pop()
        self._read_group(span)
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            self.sc.setJobGroup(parent["id"], parent["layer"])
            parent["_jobs"].extend(span["_jobs"])
            for k in self._SUMS:
                parent["_sums"][k] += span["_sums"][k]
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        span.update(span["_sums"])
        span["driver_gap_s"] = max(0.0, span["wall_s"] - union_seconds(span["_jobs"]))
        span.update(counts)
        self.spans.append({k: v for k, v in span.items() if not k.startswith("_")})
        self.overhead_s += time.perf_counter() - t
        return span

    def _read_group(self, span: dict) -> None:
        # jobs end asynchronously on the listener bus: drain it first so
        # the status store holds every finished job and stage
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = span["_sums"]
        for job_id in tracker.getJobIdsForGroup(span["id"]):
            out["jobs"] += 1
            job = store.job(job_id)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                span["_jobs"].append((job.submissionTime().get().getTime() / 1e3,
                                      job.completionTime().get().getTime() / 1e3))
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else []):
                try:
                    sd = store.stageData(stage_id, False, None, False, None).head()
                except Exception:  # evicted, or never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += int(sd.numCompleteTasks()) + int(sd.numFailedTasks())
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
                out["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
                out["spill_bytes"] += int(sd.diskBytesSpilled())
                out["gc_s"] += sd.jvmGcTime() / 1e3


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    """The median, or 0 for no samples (a layer the run did not call)."""
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float], beyond: int = 10) -> dict | None:
    """The highest whole percentile with at least `beyond` samples above
    it, or None when the run has too few operations."""
    n = len(xs)
    if n <= beyond:
        return None
    p = math.floor(100.0 * (n - beyond) / n)
    s = sorted(xs)
    rank = max(0, math.ceil(p / 100.0 * n) - 1)
    return {"value": s[rank], "percentile": p, "samples": n,
            "beyond": n - rank - 1}
