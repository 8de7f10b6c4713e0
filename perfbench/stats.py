"""Benchmark arithmetic: percentiles, failure share, spread, and process-tree RSS."""

from __future__ import annotations

import os
import threading
from typing import Optional, Sequence

# A tail percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10
CANDIDATE_PERCENTILES = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(samples: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule) of a non-empty list."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def highest_supported_percentile(n: int) -> Optional[float]:
    """The highest candidate percentile with at least MIN_BEYOND of *n* samples
    strictly beyond it, or None when even the median lacks that many."""
    for p in CANDIDATE_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND:
            return p
    return None


def failed_frac(attempted: int, failed: int) -> float:
    """Operations that raised or failed their check, over operations attempted."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


class TreeRssSampler:
    """Samples the summed resident set of this process and all its descendants
    (driver, JVM, Python workers) from /proc and keeps the peak.

    RSS sums count pages shared between forked workers once per process, so
    the figure is an upper bound on the tree's physical footprint."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "TreeRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue  # exited since the scan
        return total


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of *root*, from the ppid links in /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out: list[int] = []
    stack = list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out
