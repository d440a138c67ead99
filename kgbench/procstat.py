"""CPU and resident-memory accounting for the benchmark's process tree.

Spark in local mode is one JVM (driver and executor in one) that forks
a PySpark daemon, which forks the Python workers.  All of them are
descendants of the benchmark process, so the tree is found by walking
``/proc/<pid>/stat`` parent links.  Nothing here needs Spark.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on),
    or None when the process has gone."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is parenthesised and may itself contain spaces
    return raw[raw.rfind(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Every live process whose parent chain reaches ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and all its descendants.

    utime+stime of every live process plus cutime+cstime (time of
    children it has already reaped), so a Python worker that exits
    mid-run is still counted, through the daemon that reaped it."""
    total = 0
    for pid in [root, *descendants(root)]:
        fields = _stat_fields(pid)
        if fields is not None:
            # stat fields 14-17 (utime, stime, cutime, cstime)
            total += sum(int(v) for v in fields[11:15])
    return total / _CLK_TCK


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs
    (the ``steal`` column of /proc/stat) since boot."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


def tree_rss_mb(pids: list[int]) -> float:
    """Summed resident set size of ``pids`` in MB (10**6 bytes)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited between listing and reading
    return total * _PAGE / 1e6


class RssSampler:
    """Samples the summed RSS of ``root``'s descendants (the JVM and its
    Python workers; not ``root`` itself) on a background thread and
    keeps the peak since the last :meth:`reset`."""

    def __init__(self, root: int, interval_s: float = 0.05, rescan_s: float = 0.5):
        self._root = root
        self._interval = interval_s
        self._rescan = rescan_s
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        pids: list[int] = []
        next_scan = 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now >= next_scan:
                pids = descendants(self._root)
                next_scan = now + self._rescan
            rss = tree_rss_mb(pids)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self._interval)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0.0

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak
