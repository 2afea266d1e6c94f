"""Traced-run instrumentation, all of it outside the program under test.

* :class:`Tracer` keeps spans (name, start, end, parent, run id) in memory;
  the harness writes them out when the run ends.
* :class:`TimedCatalog` wraps the ``Catalog`` the harness hands to the
  program: every read and write is a span; writes carry the bytes and
  files they left in the table.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

__all__ = ["Tracer", "TimedCatalog", "data_files", "tree_bytes"]


class Tracer:
    """In-memory span recorder. ``span`` is a context manager; spans opened
    on other threads (the streaming sink) get the main thread's innermost
    open span as parent."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Yields the span record (a dict callers may add attributes to),
        or a throwaway dict when tracing is off."""
        if not self.enabled:
            yield {}
            return
        main = threading.current_thread() is threading.main_thread()
        with self._lock:
            rec = {"id": len(self.spans), "name": name,
                   "parent": self._stack[-1] if self._stack else None,
                   "run_id": self.run_id, "start": time.time(), "end": None}
            rec.update(attrs)
            self.spans.append(rec)
            if main:
                self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if main:
                with self._lock:
                    self._stack.pop()

    def within(self, windows) -> list[dict]:
        """Closed spans that start inside any (start, end) window."""
        return [s for s in self.spans if s["end"] is not None
                and any(a <= s["start"] <= b for a, b in windows)]


def data_files(path: str) -> dict[str, int]:
    """Data files under ``path`` → size; Spark's ``_SUCCESS``/``.crc``
    bookkeeping files are left out."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                p = os.path.join(root, n)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass  # removed by a concurrent overwrite
    return out


def tree_bytes(path: str) -> int:
    """Bytes of the data files under ``path``."""
    return sum(data_files(path).values())


class TimedCatalog:
    """Delegating ``Catalog`` wrapper: each write becomes a ``catalog.<op>``
    span carrying the bytes and files it left in the table directory (data
    files new or changed across the call); each ``read`` is a zero-length
    ``catalog.read`` span."""

    _WRITES = ("append", "overwrite_partitions", "write_overwrite",
               "write_bucketed")

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name == "read":
            def read(table, *a, **kw):
                with self._tracer.span("catalog.read", table=table):
                    return attr(table, *a, **kw)
            return read
        if name not in self._WRITES:
            return attr

        def write(df, table, *a, **kw):
            path = self._inner.path(table)
            before = data_files(path)
            with self._tracer.span(f"catalog.{name}", table=table) as rec:
                attr(df, table, *a, **kw)
                new = {p: s for p, s in data_files(path).items()
                       if before.get(p) != s}
                rec["bytes"] = sum(new.values())
                rec["files"] = len(new)

        return write
