"""Host context and process-tree memory, read from /proc.

Context is recorded with every run but is not a metric: it lets a slow
host window be told apart from a slow program from the artifact alone.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

_PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def calibration_s(reps: int = 2) -> float:
    """All-cores CPU reference: every core hashes the same 128 MiB with
    sha256 at once (hashlib releases the GIL); min-of-``reps`` wall.
    Neighbour load on a shared host inflates it roughly in proportion
    to the core-seconds it steals."""
    n = cores()
    buf = bytes(range(256)) * (128 * 1024 * 1024 // 256)
    best = float("inf")
    with ThreadPoolExecutor(max_workers=n) as pool:
        for _ in range(reps):
            t0 = time.perf_counter()
            list(pool.map(lambda _: hashlib.sha256(buf).digest(), range(n)))
            best = min(best, time.perf_counter() - t0)
    return best


def context() -> dict:
    return {
        "nproc": cores(),
        "loadavg": list(os.getloadavg()),
        "calibration_s": calibration_s(),
    }


def _stat(pid: str) -> tuple[int, int] | None:
    """(ppid, pgid) of a live process, or None when it has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), int(fields[2])


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                parent[int(pid)] = st[0]
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def group_members(pgid: int) -> list[int]:
    """Live processes of process group ``pgid``."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None and st[1] == pgid:
                out.append(int(pid))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass  # exited between listing and reading
    return total


class PeakRss:
    """Samples the RSS of this process and its descendants (the JVM and
    the Python workers) while active; ``peak_mb`` is the highest sum."""

    def __init__(self, interval: float = 0.1):
        self._interval = interval
        self._peak = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self._interval):
            if self._active.is_set():
                self._peak = max(self._peak, tree_rss_bytes(root))

    def resume(self) -> None:
        self._active.set()

    def pause(self) -> None:
        self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self._peak / 1e6
