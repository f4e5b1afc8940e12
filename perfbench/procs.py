"""Resident memory of this process and every process it started (the
Spark JVM and its Python workers), read from ``/proc``."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parent_map() -> dict:
    """{pid: parent pid} for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name may contain spaces and parens: fields after it
        # start past the last ')'
        out[int(name)] = int(stat[stat.rindex(b")") + 2:].split()[1])
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants."""
    parent = _parent_map()
    kids: dict = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Background sampler of the process-tree RSS; ``take()`` returns the
    peak since the previous ``take()`` and starts a new window."""

    def __init__(self, interval_s: float = 0.05):
        self._interval = interval_s
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self._interval):
            rss = tree_rss_bytes(me)
            with self._lock:
                self._peak = max(self._peak, rss)

    def take(self) -> int:
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak
