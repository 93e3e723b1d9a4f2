"""Small measurement helpers: percentiles and process-tree memory."""

from __future__ import annotations

import math
import os
import threading

# A reported percentile must have at least this many samples beyond it.
MIN_TAIL = 10
# How often PeakRss reads the process tree's memory.
RSS_INTERVAL_S = 0.25


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile of ``values``.

    Refuses when fewer than ``MIN_TAIL`` samples lie beyond the rank, so
    a tail figure is never read off a handful of samples."""
    n = len(values)
    rank = max(math.ceil(q / 100 * n), 1)
    if n - rank < MIN_TAIL:
        raise ValueError(
            f"p{q:g} of {n} samples has {n - rank} beyond it; need {MIN_TAIL}"
        )
    return sorted(values)[rank - 1]


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # The command name is parenthesised and may hold spaces.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    tree = _children()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(tree.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants, from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the process tree's RSS on a daemon thread; ``stop``
    returns the peak in bytes."""

    def __init__(self) -> None:
        self.peak = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._done.wait(RSS_INTERVAL_S):
                return

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def stop(self) -> int:
        self._done.set()
        self._thread.join(timeout=5)
        return self.peak
