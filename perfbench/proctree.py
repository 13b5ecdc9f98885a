"""CPU time and resident memory of this process and all its descendants.

Reads ``/proc`` only.  The tree covers the driver, the Spark JVM it
launched and the Python workers the JVM forks.  CPU time of a process
that already exited is kept in its parent's ``cutime``/``cstime``, so the
sum over live processes of own plus reaped-children time is the CPU used
by the whole tree since it started.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


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
            pass
    return out


def tree_pids(exclude: set[int] = frozenset()) -> list[int]:
    """This process and its descendants, minus the subtrees of ``exclude``."""
    pids, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(exclude: set[int] = frozenset()) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(exclude):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_rss_bytes(exclude: set[int] = frozenset()) -> int:
    total = 0
    for pid in tree_pids(exclude):
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[21]) * _PAGE  # rss in pages, field 24
    return total


class RssSampler:
    """Background thread that records the peak tree RSS until stopped."""

    def __init__(self, exclude, interval_s: float = 0.25):
        self.exclude = exclude  # called on each sample: pids to leave out
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.exclude()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.exclude()))
