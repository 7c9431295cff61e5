"""Host context and process-tree accounting read from /proc.

CPU and memory are charged to the whole process tree of the benchmark:
the Python driver, the JVM it launches and the Python workers the JVM
forks. Everything here is a plain /proc read, so it adds no dependency.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task slots for the benchmark: half the cores.

    Each running task keeps a JVM thread and a Python worker busy, with
    Arrow's writer thread beside them, so local[nproc] runs two to three
    busy threads per core. On a shared host the passes then measured the
    scheduler: over 4 runs of the same code the quartile spread of
    per-pass CPU was 0.30 at local[4] and 0.09 at local[2] on 4 cores."""
    return max(1, nproc() // 2)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s() -> float:
    """Host-wide CPU steal so far, in seconds summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces; fields after it start past the last ')'
    return data[data.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat(int(entry))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the tree, including reaped children.

    A worker that exits is reaped by its parent in the tree, whose
    cutime/cstime then carry its CPU, so the sum only grows."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _CLK_TCK


def tree_rss_bytes(root: int) -> dict[str, int]:
    """Resident bytes of the tree, split into the JVM and everything else."""
    out = {"jvm": 0, "python": 0}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        st = _stat(pid)
        if st is not None:
            out["jvm" if comm == "java" else "python"] += int(st[21]) * _PAGE
    return out


class PeakRss:
    """Samples the tree's resident memory on a thread: `peak` is the max of
    the total, `peaks` the max of each part."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.peaks = {"jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        parts = tree_rss_bytes(self.root)
        self.peak = max(self.peak, sum(parts.values()))
        for k, v in parts.items():
            self.peaks[k] = max(self.peaks[k], v)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
