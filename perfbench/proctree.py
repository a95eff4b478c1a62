"""CPU time and resident memory of this process and all its descendants.

Spark in local mode runs as a process tree: this Python driver, the JVM
it launches, and the Python workers the JVM forks.  Both numbers are
read from ``/proc`` (Linux only), so they cover every process in the
tree, not only the executor threads Spark reports on.

A child that exits is reaped by its parent, and the kernel then adds its
CPU time to the parent's ``cutime``/``cstime``; summing own plus reaped
time over the live tree therefore keeps CPU of short-lived workers.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime in seconds) of one process."""
    try:
        with open("/proc/%d/stat" % pid, "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after the last ')'
    fields = raw[raw.rindex(b")") + 2:].split()
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), ticks / _TICK


def _tree(root: int) -> dict[int, float]:
    """{pid: cpu seconds} for ``root`` and every descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def descendants(root: int | None = None) -> list[int]:
    """Live processes below ``root`` (this process by default)."""
    root = root or os.getpid()
    return [p for p in _tree(root) if p != root]


def cpu_seconds(root: int | None = None) -> float:
    return sum(_tree(root or os.getpid()).values())


def _pss(pid: int) -> int:
    """Proportional set size: pages shared with other processes (the
    forked Python workers share their parent's) count once in a sum."""
    try:
        with open("/proc/%d/smaps_rollup" % pid, "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    try:
        with open("/proc/%d/statm" % pid, "rb") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def rss_bytes(root: int | None = None) -> int:
    """Resident memory of the tree, as the sum of each process's PSS."""
    return sum(_pss(pid) for pid in _tree(root or os.getpid()))


class PeakRss:
    """Samples the tree's resident memory on a background thread;
    ``peak`` is the largest sum seen since the last ``reset``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        with self._lock:
            self.peak = 0

    def sample(self) -> None:
        rss = rss_bytes()
        with self._lock:
            self.peak = max(self.peak, rss)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()
