"""Host facts recorded next to the metrics, and the RSS sampler.

Everything reads /proc, so it works without third-party modules.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def phys_mem_bytes() -> int:
    return PAGE * os.sysconf("SC_PHYS_PAGES")


def sha256_mb_per_s(n_mb: int = 32, repeats: int = 3) -> float:
    """Host calibration: best-of-`repeats` sha256 throughput."""
    buf = b"\x5a" * (n_mb * 1024 * 1024)
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        hashlib.sha256(buf).digest()
        best = min(best, time.perf_counter() - t0)
    return n_mb / best


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu jiffies: user nice system idle iowait
    irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total > 0 else 0.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we listed
        ppid = int(stat.rpartition(")")[2].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """RSS of `root` and all its descendants: the driver, its JVM and
    the JVM's Python workers."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's RSS every `interval` seconds on a
    daemon thread; `peak_bytes` is the largest sample so far."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak_bytes = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(root))
            self._stop.wait(self._interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
