"""Hypervisor-steal sampling for ``perfbench/run.py``.

A timed run inside a noisy-neighbour window (steal spiking to >20% of all
CPUs for minutes, see BENCH.md) measures the neighbour, not the engine, so
the benchmark records the steal share of every run.
"""

from __future__ import annotations


def steal_sample() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat.

    On an unreadable /proc/stat returns (0, 1): the window then reports
    steal share 0.0 — i.e. "no evidence of contention", which callers
    must read as *unknown*, not *proven clean* (the benches print the
    share; a bench that must HARD-gate should check readability once at
    startup).
    """
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except Exception:
        return 0, 1

