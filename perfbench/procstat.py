"""Process-tree CPU and RSS read from ``/proc`` (psutil is not installed).

The tree is the benchmark worker, the Spark JVM it launches and every
Python worker under the JVM. CPU is ``utime + stime + cutime + cstime``
summed over the live tree: a child that exits is reaped into its
parent's ``cutime``/``cstime``, so a delta between two readings counts
every process that ran in between.

The tree is walked from its root through each thread's ``children``
list, so a reading costs the same however many other processes the
host runs. The JVM runs hundreds of threads, so the sampler re-walks
the tree once a second and reads the RSS of the processes it found in
between. It also times its own CPU, so a pass's CPU can be reported
without the benchmark's own sampling.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_REWALK_S = 1.0  # how often the sampler re-walks the process tree


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:  # exited meanwhile
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def tree_pids(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def tree_cpu_s(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(str(pid))
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def rss_mb(pids: list[int]) -> dict[str, float]:
    """Resident MB of the JVM and Python processes among ``pids``,
    summed per command name. Other processes are left out: the JVM's
    short-lived helpers start as a fork that shares all of the JVM's
    pages until ``exec``, and counting one would add the JVM a second
    time."""
    out: dict[str, float] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            if comm != "java" and not comm.startswith("python"):
                continue
            with open(f"/proc/{pid}/statm") as fh:
                pages = int(fh.read().split()[1])
        except OSError:  # exited meanwhile
            continue
        out[comm] = out.get(comm, 0.0) + pages * _PAGE / 1e6
    return out


class Sampler:
    """Samples the tree's summed RSS (and, when given, a heap probe) on
    one daemon thread at a fixed interval; ``window()`` returns the
    peaks since the previous call, ``cpu_s()`` the sampler thread's own
    CPU so far."""

    def __init__(self, root: int, interval_s: float = 0.05, heap_probe=None):
        self.root = root
        self.interval_s = interval_s
        self._pids: list[int] = []
        self._walked = float("-inf")
        self.heap_probe = heap_probe
        self._lock = threading.Lock()
        self._rss = self._heap = self._cpu = 0.0
        self._at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._loop, name="perfbench-sampler", daemon=True
        )

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            t = time.thread_time()
            self.sample()
            with self._lock:
                self._cpu += time.thread_time() - t

    def cpu_s(self) -> float:
        with self._lock:
            return self._cpu

    def sample(self) -> None:
        if time.monotonic() - self._walked >= _REWALK_S:
            self._pids, self._walked = tree_pids(self.root), time.monotonic()
        by_comm = rss_mb(self._pids)
        rss = sum(by_comm.values())
        heap = self.heap_probe() if self.heap_probe is not None else 0.0
        with self._lock:
            if rss > self._rss:
                self._rss, self._at_peak = rss, by_comm
            self._heap = max(self._heap, heap)

    def window(self) -> tuple[float, float, dict[str, float]]:
        """(peak RSS MB, peak heap MB, RSS MB per command at the RSS
        peak) since the last call; resets all three."""
        self.sample()
        with self._lock:
            out = (self._rss, self._heap, self._at_peak)
            self._rss = self._heap = 0.0
            self._at_peak = {}
        return out
