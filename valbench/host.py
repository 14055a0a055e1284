"""Host shape and process-tree accounting read from /proc.

psutil is not a dependency, so CPU time and resident memory of the
benchmark's process tree (this Python process, the JVM it launches and the
Python workers the JVM forks) are summed from /proc/<pid>/stat.
"""

from __future__ import annotations

import os
import shutil
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

#: the JVM heap never exceeds this, so peak memory stays comparable across
#: runs whose MemAvailable differs and the shared host is not crowded
HEAP_CAP_MB = 2048
#: on-disk parquet bytes per generated token row (2M rows ~ 700 MB)
PARQUET_BYTES_PER_ROW = 350


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def heap_mb() -> int:
    """A quarter of available memory, capped at HEAP_CAP_MB."""
    return max(512, min(HEAP_CAP_MB, mem_available_mb() // 4))


def fixture_rows(target: int, path: str) -> int:
    """`target` rows, fewer if the fixture would take over 5% of free disk."""
    free = shutil.disk_usage(path).free
    fit = int(free * 0.05) // PARQUET_BYTES_PER_ROW
    return max(1, min(target, fit))


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields after it are fixed
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the live tree plus its reaped children.

    A process that ended was reaped by its parent inside the tree, so its
    time sits in the parent's cutime/cstime and is counted once."""
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime: fields 14-17 of stat(5)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICKS


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            total += int(fields[21]) * _PAGE  # rss: field 24 of stat(5)
    return total / 2**20


class RssPeak:
    """Samples the tree's resident memory on a thread; ``peak_mb`` is the
    largest sum seen between start() and stop()."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def start(self) -> "RssPeak":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return self.peak_mb
