"""Process-tree memory sampling and shutdown from ``/proc``.

The tree is this Python driver, the Spark JVM it launches, and the
JVM's Python daemon and workers. ``psutil`` is not available, so the
tree is rebuilt from ``/proc/<pid>/stat`` parent links.
"""

from __future__ import annotations

import os
import signal
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid) -> list:
    """Fields of ``/proc/<pid>/stat`` after the command name (state,
    ppid, ...), or ``[]`` when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return []
    # the command name may hold spaces; fields resume after its ')'
    return stat.rsplit(")", 1)[1].split()


def _parents() -> dict:
    out = {}
    for entry in os.listdir("/proc"):
        fields = _stat(entry) if entry.isdigit() else []
        if fields:
            out[int(entry)] = int(fields[1])
    return out


def descendants(root: int) -> set:
    children: dict = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    found, stack = set(), [root]
    while stack:
        for child in children.get(stack.pop(), ()):
            if child not in found:
                found.add(child)
                stack.append(child)
    return found


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


class TreeRss:
    """Samples the summed RSS of a process tree on a background thread
    and keeps the peak."""

    def __init__(self, root: int, interval_s: float = 0.1, rescan_s: float = 1.0):
        self.root = root
        self.interval_s = interval_s
        self.rescan_s = rescan_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "TreeRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    def _run(self) -> None:
        pids, scanned = {self.root}, 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - scanned >= self.rescan_s:
                pids, scanned = {self.root} | descendants(self.root), now
            self.peak_bytes = max(self.peak_bytes, sum(_rss_bytes(p) for p in pids))
            self._stop.wait(self.interval_s)


def wait_gone(pids: set, timeout_s: float) -> None:
    """Wait for ``pids`` to exit; kill what is left at the deadline."""
    deadline = time.monotonic() + timeout_s
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if _stat(p)[:1] not in ([], ["Z"])}
        time.sleep(0.05)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
