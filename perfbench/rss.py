"""Peak resident memory of this process and all its descendants (the
Python driver, the JVM it launched and the JVM's Python workers), sampled
from ``/proc`` by a background thread."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended while we looked
        # the command name may hold spaces; fields after it are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the tree every ``interval`` seconds between start and stop."""

    def __init__(self, interval: float = 0.2):
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            if self._stop.wait(self._interval):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20
