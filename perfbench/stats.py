"""Small measurement helpers shared by the workloads."""

from __future__ import annotations

import os
import statistics
import threading

from .procs import descendants

__all__ = ["median", "tail", "tail_label", "RssSampler"]


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> float:
    """The highest percentile with at least ten samples beyond it; with
    fewer than eleven samples no such percentile exists and the maximum
    is reported instead."""
    s = sorted(xs)
    if not s:
        return 0.0
    return float(s[len(s) - 11] if len(s) >= 11 else s[-1])


def tail_label(n: int) -> str:
    return f"p{100 * (n - 10) // n}" if n >= 11 else "max"


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def descendants_rss() -> int:
    """Summed RSS of every process below this one: the Spark JVM and the
    Python workers it forks."""
    return sum(_rss_bytes(pid) for pid in descendants())


class RssSampler:
    """Background sampler of :func:`descendants_rss`; ``stop`` returns the
    highest sum seen since ``start``, in MiB."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(self.interval_s):
            self.peak = max(self.peak, descendants_rss())

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(10)
        return self.peak / (1 << 20)
