"""Measurement plumbing shared by the workloads: the Spark session the
benchmark drives, a process-tree memory sampler, span tracing, Spark's
own job/stage counts and event log, and the summary statistics."""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, int, int]:
    """(value, percentile, samples): the highest whole percentile with at
    least ten samples above it.  With fewer than twenty samples no such
    percentile reaches past the median, so the median is reported."""
    n = len(xs)
    pct = max(50, math.floor(100 * (1 - 10 / n)))
    if pct == 50:
        return median(xs), pct, n
    s = sorted(xs)
    # nearest-rank percentile
    idx = max(0, math.ceil(pct / 100 * n) - 1)
    return float(s[idx]), pct, n


def canary_s() -> float:
    """A fixed pure-Python CPU loop; its time tracks how busy the host is."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


# --------------------------------------------------------------------------
# process-tree memory
# --------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        pid = int(raw.split(" ", 1)[0])
        ppid = int(raw.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(pid)
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants (driver, JVM, Python workers)."""
    kids = _children()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _hwm_bytes(pid: int) -> int:
    """The kernel's record of the process's peak resident set."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _reset_hwm(pid: int) -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


class PeakRss:
    """Peak resident set of the process tree inside ``sampling()``
    windows: the sum over the tree's processes of each one's peak in the
    window, as the kernel records it (reset when the window opens).  A
    sampler finds the processes and reads their peaks before they exit.
    ``peak_mb`` is the median over windows."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.windows: list[int] = []
        self._peaks: dict[int, int] = {}
        self._lock = threading.Lock()
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self):
        for pid in tree_pids(os.getpid()):
            hwm = _hwm_bytes(pid)
            with self._lock:
                self._peaks[pid] = max(self._peaks.get(pid, 0), hwm)

    def _run(self):
        while not self._stop.is_set():
            if self._on.wait(0.2) and not self._stop.is_set():
                self._sample()
                self._stop.wait(self.interval)

    @contextmanager
    def sampling(self):
        for pid in tree_pids(os.getpid()):
            _reset_hwm(pid)
        with self._lock:
            self._peaks = {}
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self._sample()
            with self._lock:
                self.windows.append(sum(self._peaks.values()))

    @property
    def peak_mb(self) -> float:
        return median(self.windows) / 2**20

    def close(self):
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------------
# Spark session
# --------------------------------------------------------------------------

DRIVER_MEMORY = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, event_log: bool = False):
    """A ``local[nproc]`` session through the engine's own factory, with
    every scratch path inside ``work``."""
    from bytesprocessor_spark.session import get_spark

    n = cores()
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed-size heap, so the JVM's share of peak_rss_mb does not depend
        # on when the collector grows the heap.  JIT settings stay the
        # engine's own; the workloads' warm-up reaches steady-state code.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process started and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    job: str
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans recorded around the benchmark's calls into the
    engine.  Spans of one job share its id; counts recorded at the same
    boundary ride on the span.  Written out once, when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.job = ""

    @contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.job, dict(counts))
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp.counts
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Span time minus the time its child spans cover, per name."""
        out: dict[str, float] = {}
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "job": s.job, "parent": s.parent,
                    "start": s.start - t0, "end": s.end - t0, "counts": s.counts,
                }) + "\n")


# --------------------------------------------------------------------------
# Spark's own counters
# --------------------------------------------------------------------------

def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks Spark ran under a job group
    (read from the status tracker; the UI stays off)."""
    st = spark.sparkContext.statusTracker()
    jobs = stages = tasks = failed = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None:
                continue
            stages += 1
            tasks += si.numTasks
            failed += si.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


def reduce_event_log(directory: str, groups) -> dict[str, float]:
    """Shuffle-write and spill bytes, executor CPU and GC time summed over
    the tasks of the jobs run under one of the job ``groups``."""
    stages: set[int] = set()
    totals = {"shuffle_write_mb": 0.0, "spill_mb": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0}
    tasks = []
    for path in glob.glob(os.path.join(directory, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get("spark.jobGroup.id") in groups:
                        stages.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev.get("Stage ID"), ev.get("Task Metrics") or {}))
    for sid, m in tasks:
        if sid not in stages:
            continue
        sw = m.get("Shuffle Write Metrics") or {}
        totals["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
        totals["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
        totals["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        totals["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return totals


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under a directory, ignoring marker files."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files
