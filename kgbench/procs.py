"""Process-tree helpers: resident memory of the Spark JVM and its Python
workers, and a shutdown that waits for every process the session started.

Reads /proc directly (Linux only)."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, ppid) of pid, or None once it is gone."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # the command name may contain spaces; fields resume after its ')'
    fields = raw[raw.rindex(")") + 2:].split()
    return fields[0], int(fields[1])


def tree(root: int) -> list[int]:
    """root and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(st[1], []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            pass
    return total


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU time of pids and of the children they reaped. The
    kernel leaves out time the hypervisor stole from the VM."""
    ticks = 0
    for pid in pids:
        try:
            raw = Path(f"/proc/{pid}/stat").read_text()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # utime, stime, cutime, cstime: fields 14-17
        ticks += sum(int(v) for v in raw[raw.rindex(")") + 2:].split()[11:15])
    return ticks / _TICK


def steal_seconds() -> float:
    """CPU time the hypervisor stole from this VM since boot, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class Stopwatch:
    """Wall time, CPU time and stolen time of one job. CPU time is the
    Spark JVM's process tree (the Python worker daemon and workers
    included) plus the calling thread, which drives the job. The JVM keeps
    working after a job returns (JIT compilation, GC, cleanup of the job's
    shuffles and broadcasts), so stop() counts CPU time until the tree has
    gone quiet: that work is the job's, and the next job starts from a
    quiet JVM."""

    # quiet: the tree uses at most QUIET_CORES of a core over QUIET_WINDOW_S
    QUIET_CORES = 0.1
    QUIET_WINDOW_S = 0.5
    QUIET_TIMEOUT_S = 20.0

    def __init__(self, spark):
        self._root = spark.sparkContext._gateway.proc.pid
        self._t0 = self._cpu0 = self._steal0 = 0.0

    def _tree_cpu(self) -> float:
        return cpu_seconds(tree(self._root))

    def start(self) -> None:
        self._steal0 = steal_seconds()
        self._cpu0 = self._tree_cpu() + time.thread_time()
        self._t0 = time.perf_counter()

    def stop(self) -> tuple[float, float, float]:
        """(wall_s, cpu_s, steal_s) since start(); wall time ends now, CPU
        and stolen time once the JVM is quiet."""
        wall = time.perf_counter() - self._t0
        thread_cpu = time.thread_time()
        cpu = self._tree_cpu()
        deadline = time.perf_counter() + self.QUIET_TIMEOUT_S
        while time.perf_counter() < deadline:
            time.sleep(self.QUIET_WINDOW_S)
            prev, cpu = cpu, self._tree_cpu()
            if cpu - prev <= self.QUIET_CORES * self.QUIET_WINDOW_S:
                break
        return (wall, cpu + thread_cpu - self._cpu0,
                steal_seconds() - self._steal0)


class PeakRss:
    """Samples the summed RSS of a process tree on a background thread;
    `take()` returns the peak since the previous `take()` in MB."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self._root = root
        self._interval = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            rss = rss_bytes(tree(self._root))
            with self._lock:
                self._peak = max(self._peak, rss)

    def take(self) -> float:
        rss = rss_bytes(tree(self._root))
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak / 2**20

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def stop_session(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, then end the JVM and wait until it and every
    process it started (the Python worker daemon and its workers) are
    gone; whatever outlives the timeout is killed."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    pids = tree(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the launcher exits when its stdin closes
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
