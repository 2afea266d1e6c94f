"""Every process a run starts ends before it does: the Spark JVM and the
Python workers it forks are stopped and waited for on every way out."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

__all__ = ["adopt_orphans", "cpu_seconds", "descendants", "end_all"]

_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so the
    Python workers the JVM forks are re-parented here, not to init, when
    the JVM ends first, and can be waited for."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> dict[int, list[int]]:
    """Parent pid → child pids of every live process."""
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process exited while listing
        out.setdefault(ppid, []).append(int(d))
    return out


def descendants() -> list[int]:
    kids = _children()
    out, stack = [], list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def cpu_seconds() -> float:
    """CPU time used so far by every process below this one (the Spark JVM
    and its Python workers), the children they have waited for included."""
    ticks = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_jvm(grace_s: float) -> None:
    """Close the Spark JVM's stdin, on which it exits, and wait for it;
    the gateway is forgotten so a later session in this process launches
    a new JVM."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_all(grace_s: float = 20.0) -> None:
    """Stop the JVM and wait until no process this one started is left:
    SIGTERM to what remains after ``grace_s``, SIGKILL 5 s later."""
    started = set(descendants())
    _stop_jvm(grace_s)
    deadline = time.monotonic() + grace_s
    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        while True:
            _reap()
            left = [p for p in started.union(descendants()) if _alive(p)]
            if not left:
                return
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if sig is None:
            raise RuntimeError(f"processes {left} outlived SIGKILL")
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5.0
