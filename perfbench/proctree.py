"""CPU and RSS of a process tree, read from /proc.

Spark's Python workers are forked by a daemon under the JVM, reused
across tasks and never reaped while the session lives, so
``RUSAGE_CHILDREN`` of the driver never sees them. This module walks
the live tree under a root pid instead and sums, per process,
utime + stime + cutime + cstime (a reaped child's CPU lands in its
parent's c-fields, so nothing is counted twice) and the resident set.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int, bytes] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes, comm), or
    None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may contain spaces or parens: split after the last ')'.
    end = raw.rindex(b")")
    fields = raw[end + 2:].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    rss_pages = int(fields[21])
    return ppid, ticks / _TICK, rss_pages * _PAGE, raw[raw.index(b"(") + 1:end]


def _snapshot() -> dict[int, tuple[int, float, int, bytes]]:
    snap = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                snap[int(name)] = st
    return snap


def _descendants(root: int, snap: dict) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, st in snap.items():
        children.setdefault(st[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def descendants(root: int) -> list[int]:
    """Pids of every live process under ``root`` (root excluded)."""
    return _descendants(root, _snapshot())


def tree_usage(root: int) -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over ``root`` and its live
    descendants."""
    return usage_of(root, _snapshot())


def usage_of(root: int, snap: dict) -> tuple[float, int]:
    """``tree_usage`` over a ``_snapshot()``-shaped dict. A child of the
    JVM holding at least half the JVM's RSS is the JVM forked and caught
    before its exec (Hadoop's local file system shells out to chmod/ls
    on writes): until the exec it reports the JVM's own pages, so its
    RSS is not added a second time."""
    cpu, rss = 0.0, 0
    for pid in [root, *_descendants(root, snap)]:
        st = snap.get(pid)
        if st is None:
            continue
        cpu += st[1]
        parent = snap.get(st[0])
        if (parent is not None and parent[3] == b"java"
                and 2 * st[2] >= parent[2]):
            continue
        rss += st[2]
    return cpu, rss


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak`` is the
    largest sample seen between ``start()`` and ``stop()``."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_usage(self.root)[1])
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> PeakRss:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
            self._thread = None
        return self.peak
