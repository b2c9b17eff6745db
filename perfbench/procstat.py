"""CPU time and resident memory of this process and all its descendants.

The Spark JVM is a child of the benchmark process and the Python workers
are the JVM's children, so the process tree rooted here covers every
process that does the job's work.  Everything is read from ``/proc``
(Linux only).
"""

from __future__ import annotations

import os
import signal
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid) -> list[bytes]:
    """Fields of ``/proc/<pid>/stat`` after the command name, so index 0
    is field 3 (state).  The name may hold spaces and parentheses, hence
    the split after the last ``)``."""
    with open(f"/proc/{pid}/stat", "rb") as f:
        data = f.read()
    return data[data.rfind(b")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat(name)[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system time of ``pids``, including their reaped children
    (a Python worker that exits is charged to the daemon that reaps it)."""
    ticks = 0
    for pid in pids:
        try:
            f = _stat(pid)
        except OSError:
            continue
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            total += int(_stat(pid)[21]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class TreeSampler:
    """Context manager: CPU seconds the tree used inside the block, and
    the peak of the tree's summed resident memory, sampled every
    ``interval`` seconds by a background thread (plus once at each end)."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.cpu_s = 0.0
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak_rss = max(self.peak_rss, rss_bytes(tree_pids()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "TreeSampler":
        self._cpu0 = cpu_seconds(tree_pids())
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        pids = tree_pids()
        self.peak_rss = max(self.peak_rss, rss_bytes(pids))
        self.cpu_s = cpu_seconds(pids) - self._cpu0


def wait_gone(pids: list[int], timeout: float = 10.0) -> list[int]:
    """Wait for ``pids`` to exit, sending TERM and then KILL to those
    still running after each ``timeout``; returns the pids left at the
    end (none, normally).  They need not be our children: once the JVM
    exits its workers are re-parented, so they are polled through
    ``/proc`` rather than waited on."""

    def alive() -> list[int]:
        out = []
        for pid in pids:
            try:
                if _stat(pid)[0] != b"Z":
                    out.append(pid)
            except OSError:
                pass
        return out

    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in alive() if sig is not None else ():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + timeout
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)
        if not alive():
            return []
    return alive()
