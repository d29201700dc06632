"""Measurement plumbing shared by every workload: percentiles, spans and
self time, Spark job/task counting, memory and run conditions.

Nothing here imports pyspark at module level, so the arithmetic can be
tested without a Spark session.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import os
import platform
import signal
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# A named percentile is reported only when at least this many samples
# lie beyond it (choosing-metrics rule: p95 needs 200 samples, p90 100).
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``q`` of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"quantile out of range: {q}")
    ordered = sorted(values)
    return ordered[max(math.ceil(q * len(ordered)) - 1, 0)]


def tail_samples(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly beyond the nearest-rank
    ``q`` percentile."""
    return n - max(math.ceil(q * n), 1) if n else 0


def percentile_report(values: list[float], q: float) -> dict:
    """The percentile with its sample count and whether the sample
    supports it (``MIN_TAIL_SAMPLES`` beyond it)."""
    n = len(values)
    return {
        "value": percentile(values, q) if n else None,
        "n": n,
        "beyond": tail_samples(n, q),
        "supported": tail_samples(n, q) >= MIN_TAIL_SAMPLES,
    }


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str


class Tracer:
    """In-memory span recorder.  Spans nest per thread; every span of one
    operation carries the same ``op`` id.  Disabled, ``span`` costs one
    attribute test, so untraced runs time the same calls."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, op))

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of it that
    its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - covered(children.get(s.sid, []), s.start, s.end)
        for s in spans
    }


def layer_summary(spans: list[Span]) -> dict[str, dict]:
    """Per span name: count, median total ms and median self ms."""
    selfs = self_times(spans)
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    out = {}
    for name, group in sorted(by_name.items()):
        out[name] = {
            "n": len(group),
            "total_ms": median([(s.end - s.start) * 1e3 for s in group]),
            "self_ms": median([selfs[s.sid] * 1e3 for s in group]),
            "self_ms_sum": sum(selfs[s.sid] for s in group) * 1e3,
        }
    return out


# ------------------------------------------------------------ Spark jobs


class JobCounter:
    """Counts the Spark jobs and tasks one operation launches, through a
    job group per operation and the status tracker.  Pinned-thread mode
    (the PySpark default) keeps job groups per client thread."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.tracker = sc.statusTracker() if enabled else None

    @contextmanager
    def group(self, op: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(op, op)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, op: str) -> tuple[int, int]:
        if not self.enabled:
            return 0, 0
        jobs = self.tracker.getJobIdsForGroup(op)
        tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                stage = self.tracker.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks


# ------------------------------------------------------ process and host


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, parents before children."""
    out, todo = [], _children(pid)
    while todo:
        child = todo.pop(0)
        if child not in out:
            out.append(child)
            todo.extend(_children(child))
    return out


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its descendants (the
    Spark JVM), summed from each one's VmHWM."""
    pids = [os.getpid(), *descendants(os.getpid())]
    return sum(_vm_hwm_kb(pid) for pid in pids) / 1024.0


def become_subreaper() -> None:
    """Make this process the parent of any descendant whose own parent
    exits first (a build child's JVM, the JVM's Python workers), so that
    ``stop_descendants`` finds and reaps it."""
    import ctypes

    pr_set_child_subreaper = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_spark(spark, grace_s: float = 60.0) -> None:
    """Stop the session, then end its JVM and wait until it has exited.

    ``spark.stop()`` leaves the gateway JVM running until this process
    exits; closing the JVM's stdin makes it exit now, running Spark's
    shutdown hooks (which remove its local dirs)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _reap() -> None:
    """Collect the exit status of every child that has already ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 10.0) -> list[int]:
    """Stop every process below this one and wait until all have ended:
    SIGTERM first, SIGKILL for those still running after ``grace_s``.
    Returns the pids that had to be stopped."""
    _reap()
    left = descendants(os.getpid())
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, grace_s)):
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while True:
            _reap()
            if not descendants(os.getpid()) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
    return left


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_hash(root: str, *parts: str) -> str:
    """sha256 over the relative paths and bytes of every regular file
    under ``root/part`` (files or directories), ignoring bytecode."""
    h = hashlib.sha256()
    for part in parts:
        top = os.path.join(root, part)
        paths = [top] if os.path.isfile(top) else [
            os.path.join(d, f)
            for d, dirs, files in os.walk(top)
            if "__pycache__" not in d
            for f in files
            if not f.endswith(".pyc")
        ]
        for p in sorted(paths):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def conditions(root: str, seed: int) -> dict:
    """Run conditions recorded with every result (spark fields are
    filled in once the session exists)."""
    import pyspark

    return {
        "seed": seed,
        "nproc": nproc(),
        "load_1m_start": os.getloadavg()[0],
        "git_commit": git_commit(root),
        "source_hash": source_hash(root, "parquet_common_spark"),
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
    }


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``: parquet part files plus any
    other regular file except Spark's checksum and marker files."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n == "_SUCCESS":
                continue
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size, files
