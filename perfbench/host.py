"""Host regime stamps and the process-tree RSS sampler.

Everything here is recorded beside the metrics and never used to re-time,
drop or adjust a pass: a result must not depend on earlier runs.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_probe(reps: int = 5) -> float:
    """Median seconds of a fixed pure-Python loop: a reading of how fast
    one core runs this interpreter right now."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return sorted(times)[reps // 2]


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and every descendant (driver, JVM, Python workers)."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def tree_pss_bytes(pids: list[int]) -> int:
    """Resident memory of the tree with each shared page counted once
    (PSS): Spark forks its Python workers from one daemon, so summing
    plain RSS would count the daemon's pages once per worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def tree_cpu_s(pids: list[int]) -> float:
    """CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _CLK


def host_busy_s() -> float:
    """Busy CPU seconds of the whole host since boot (all cores)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    idle = f[3] + f[4]  # idle + iowait
    return (sum(f[:8]) - idle) / _CLK


class CpuWindow:
    """Share of the host's CPU that processes outside our tree used
    between ``start()`` and ``stop()``: the co-tenant fraction of a pass."""

    def start(self) -> None:
        self._t = time.perf_counter()
        self._host = host_busy_s()
        self._tree = tree_cpu_s(process_tree())

    def stop(self) -> float:
        wall = time.perf_counter() - self._t
        host = host_busy_s() - self._host
        tree = tree_cpu_s(process_tree()) - self._tree
        return max(0.0, host - tree) / (nproc() * wall) if wall > 0 else 0.0


class RssSampler:
    """Peak resident memory (PSS) of the process tree, sampled on a thread
    while running."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            pss = tree_pss_bytes(process_tree())
            with self._lock:
                self._peak = max(self._peak, pss)
            self._stop.wait(self.interval_s)

    def take(self) -> int:
        """The peak since the last take, in bytes; starts a new peak."""
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
