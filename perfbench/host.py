"""Host fit (cores, driver heap) and peak memory of the process tree."""

from __future__ import annotations

import os
import threading
from pathlib import Path

# The driver heap is capped well below host RAM: in local mode the
# driver JVM shares the host with one Python worker per core.
HEAP_SHARE_OF_RAM = 0.4
HEAP_CAP_GB = 4


def cores() -> int:
    """Cores this process may run on (what ``nproc`` reports)."""
    return len(os.sched_getaffinity(0))


def driver_heap_gb() -> int:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1, min(HEAP_CAP_GB, int(kb / 2**20 * HEAP_SHARE_OF_RAM)))


def _stat_fields(pid: int | str) -> list[str]:
    """Fields of /proc/<pid>/stat after the parenthesised command name:
    [0] state, [1] ppid, [11] utime, [12] stime, [13] cutime, [14] cstime."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root`` (not ``root`` itself)."""
    parent: dict[int, int] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                parent[int(d.name)] = int(_stat_fields(d.name)[1])
            except (OSError, IndexError):
                continue
    out = []
    for pid in parent:
        p = parent[pid]
        while p not in (root, 0, 1) and p in parent:
            p = parent[p]
        if p == root and pid != root:
            out.append(pid)
    return out


def _tree_rss_bytes(root: int, page: int) -> int:
    total = 0
    for pid in descendants(root):
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * page
        except OSError:
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root``'s descendants, including
    the reaped children they waited for (so a Python worker that exits
    mid-window still counts through its parent)."""
    ticks = 0
    for pid in descendants(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        ticks += sum(int(v) for v in f[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """Host-wide CPU ticks from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / max(sum(d), 1)


class PeakRss:
    """Samples the summed RSS of this process's descendants (the driver
    JVM and the Python workers it forks) on a background thread."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(root, self._page))
            self._stop.wait(self._interval)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
