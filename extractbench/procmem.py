"""Peak resident memory of a process tree, sampled from /proc.

The tree is the benchmark's own process and every descendant: the
Spark JVM it launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces and parens: split after the last ")"
        fields = stat[stat.rfind(b")") + 2 :].split()
        out[int(name)] = int(fields[1])
    return out


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds on a
    daemon thread until :meth:`stop`; :meth:`lap` returns the largest
    sample since the previous lap."""

    def __init__(self, root: int | None = None, interval: float = 0.1) -> None:
        self.root = root or os.getpid()
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes(self.root)
        with self._lock:
            self._peak = max(self._peak, rss)

    def _run(self) -> None:
        while not self._done.is_set():
            self._sample()
            self._done.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def lap(self) -> int:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def stop(self) -> None:
        self._done.set()
        self._thread.join(timeout=5)
