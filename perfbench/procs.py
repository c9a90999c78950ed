"""Process-tree bookkeeping from ``/proc``: resident memory of the benchmark
process and everything it started (driver JVM, Python workers), and teardown
that waits until each of those processes has ended."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int | None = None) -> list[int]:
    """Every live process below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes() -> int:
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the tree's RSS every ``interval`` seconds on a daemon thread;
    ``window()`` returns the peak since the previous call."""

    def __init__(self, interval: float = 0.05):
        self._interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            rss = tree_rss_bytes()
            with self._lock:
                self._peak = max(self._peak, rss)

    def window(self) -> int:
        rss = tree_rss_bytes()
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER): Spark's launcher leaves a child behind when its
    shell execs the JVM, and it must be reaped here, not left to init."""
    import ctypes
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def wait_gone(pids: list[int], timeout: float = 20.0) -> None:
    """Wait until ``pids`` have exited and been reaped (a zombie still has a
    /proc entry); SIGTERM, then SIGKILL, what outlives the timeout.  With
    ``adopt_orphans`` every one of them ends up a child of this process."""
    deadline = time.monotonic() + timeout
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline:
            _reap()
            if not any(os.path.exists(f"/proc/{p}") for p in pids):
                return
            time.sleep(0.05)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
