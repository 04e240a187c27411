"""Peak resident memory of the driver JVM and its Python workers, sampled
from /proc (Linux) on a background thread."""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def rss_split(jvm_pid: int) -> tuple[int, int]:
    """(JVM bytes, bytes of all its descendant processes)."""
    kids = _children()
    todo, desc = list(kids.get(jvm_pid, [])), 0
    while todo:
        p = todo.pop()
        desc += _rss(p)
        todo.extend(kids.get(p, []))
    return _rss(jvm_pid), desc


class PeakRss:
    """Samples every ``interval`` seconds until the ``with`` block ends;
    keeps the peak of the JVM and of its workers over the whole block, and
    of both together per window between ``mark`` calls."""

    def __init__(self, jvm_pid: int, interval: float = 0.05):
        self.pid = jvm_pid
        self.interval = interval
        self.jvm = self.python = 0
        self.windows: list[int] = []         # peak total per window
        self._window = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            j, w = rss_split(self.pid)
            with self._lock:
                self.jvm = max(self.jvm, j)
                self.python = max(self.python, w)
                self._window = max(self._window, j + w)
            if self._stop.wait(self.interval):
                return

    def mark(self) -> None:
        """Close the current window (e.g. one operation)."""
        j, w = rss_split(self.pid)
        with self._lock:
            self.windows.append(max(self._window, j + w))
            self._window = 0

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
