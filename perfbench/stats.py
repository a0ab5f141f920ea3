"""Small statistics and process helpers shared by the benchmark."""

from __future__ import annotations

import os
import threading
import time

#: Percentiles ``op_tail_s`` may report, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: Samples that must lie strictly beyond a percentile before it is reported.
TAIL_MIN_BEYOND = 10


def median(values):
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no values")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p% of
    the samples at or below it)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100), at least 1
    return xs[int(rank) - 1]


def tail(values) -> tuple[float, float, int]:
    """``(value, percentile, beyond)`` for ``op_tail_s``: the highest
    ladder percentile with at least ``TAIL_MIN_BEYOND`` samples strictly
    above it. With too few samples for any ladder step the tail is the
    slowest sample, reported as percentile 100 with 0 beyond."""
    xs = sorted(values)
    for p in TAIL_LADDER:
        v = percentile(xs, p)
        beyond = sum(1 for x in xs if x > v)
        if beyond >= TAIL_MIN_BEYOND:
            return v, p, beyond
    return xs[-1], 100.0, 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the RSS of a process tree (driver, JVM, Python workers)
    from ``/proc`` in a background thread and keeps the peak."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root, self.interval_s = root, interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        return self.peak


def now_ms() -> float:
    """Wall clock in epoch milliseconds, the event log's time base."""
    return time.time() * 1000.0
