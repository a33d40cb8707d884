"""Process-tree accounting from /proc: peak RSS, CPU time, shutdown.

The tree is this process plus every descendant: the Spark JVM it
launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import signal
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    return raw[raw.rfind(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += int(st[21]) * _PAGE
    return total


def cpu_seconds(pids: list[int]) -> float:
    """User + system time of the tree, including reaped children."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(v) for v in st[11:15])
    return ticks / _TICK


class TreeMonitor:
    """Samples the tree rooted at ``root`` in a background thread: RSS
    every ``period`` seconds, the tree's membership every ``rescan``.
    ``peak`` is the highest RSS sampled outside ``paused()``."""

    def __init__(self, root: int | None = None, period: float = 0.2, rescan: float = 1.0):
        self.root = os.getpid() if root is None else root
        self.period = period
        self.rescan = rescan
        self.peak = 0
        self._paused = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, scanned = [], 0.0
        while not self._stop.wait(self.period):
            if time.time() - scanned >= self.rescan:
                pids, scanned = tree(self.root), time.time()
            rss = rss_bytes(pids)
            if not self._paused:
                self.peak = max(self.peak, rss)

    def __enter__(self) -> "TreeMonitor":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @contextmanager
    def paused(self):
        """Leave what runs inside out of ``peak``."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    def reset_peak(self) -> None:
        self.peak = rss_bytes(tree(self.root))

    def cpu(self) -> float:
        return cpu_seconds(tree(self.root))


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever outlives ``timeout``."""
    deadline = time.time() + timeout
    alive = [p for p in pids if _stat(p) is not None]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while alive and time.time() < deadline + 10:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"
