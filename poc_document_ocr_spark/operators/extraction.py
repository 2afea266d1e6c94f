"""The extraction operator: one Arrow map pass over the ``text`` column.

Rebuild of the reference's per-page OCR stage (the single expensive hop,
``DocumentIntelligenceService.cs:72-201`` called from the per-page loop at
``PdfProcessorFunction.cs:292-356``), as one vectorized Python stage — the
package's only extraction boundary (:func:`extract_turns`):

* JVM ↔ Python transfer is Arrow record batches both ways, no pandas on
  either side. Every input column goes back out as the incoming Arrow
  buffer; only ``text`` is read into Python (one ``to_pylist()`` — the
  parsers need Python strings anyway), and the four outputs are built as
  Arrow arrays, the spans from flattened offsets.
* Filters (turn selection, conv filters) must be applied BEFORE this stage;
  a Python map is a plan barrier, Catalyst will not push predicates or
  column pruning through it (SURVEY.md §7.4 trap 5). Columns that nothing
  downstream reads still cross the boundary, so select them away first.

Scale notes (100 TB): extraction is turn-local, so the stage runs under
whatever partitioning the scan produced — no shuffle is introduced here.
Long conversations (skew) are safe: we do NOT group by conv_id before
extraction; regrouping happens later in the cheap fold stage with AQE skew
handling (SURVEY.md §4 skew row).

Per-task worker cost: a reused PySpark worker pays twice per task for what
it has imported, before and after its rows. Before: its per-task
``importlib.invalidate_caches()``, under CPython < 3.13, makes each
``zipimporter`` re-read its archive's whole directory (16 importers of the
1,328-entry ``pyspark.zip``: ~0.1–0.25 s of worker CPU per task on a 4-core
host). After: the daemon's ``gc.collect()`` walks every object the worker
holds (~74k–88k, 28–40 ms per task). The map function therefore runs
:func:`_task_entry` first: it installs :func:`_lazy_zip_invalidate`, which
re-reads an archive only when it changed, as 3.13 does, and it
``gc.freeze()``s the heap, so the post-task collection walks only what the
task allocated. Frozen objects are still freed by reference counting; only
a cycle among them that later becomes garbage would stay.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import dispatch
from ..schema import EXTRACTION_TYPE

__all__ = [
    "extract_turns",
    "extract_turns_arrow",
    "span_lint",
]


def _spans_array(spans: list) -> pa.ListArray:
    """``list<struct<start,end>>`` from flattened offsets and two int32
    child arrays — no per-span dict, one ListArray assembly per batch."""
    offsets = [0]
    starts: list[int] = []
    ends: list[int] = []
    for sp in spans:
        offsets.append(offsets[-1] + len(sp))
        for s, e in sp:
            starts.append(s)
            ends.append(e)
    struct = pa.StructArray.from_arrays(
        [pa.array(starts, pa.int32()), pa.array(ends, pa.int32())],
        ["start", "end"],
    )
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct)


_stdlib_zip_invalidate = zipimport.zipimporter.invalidate_caches


def _stat_key(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _lazy_zip_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when its ``(st_mtime_ns, st_size)`` differs from the one
    this importer last read (or it has read none, or the stat fails)."""
    key = _stat_key(self.archive)
    if key is None or getattr(self, "_archive_key", None) != key:
        _stdlib_zip_invalidate(self)
        self._archive_key = key


def _install_lazy_zip_invalidate() -> None:
    """Idempotent, per worker process; a no-op from CPython 3.13, whose
    ``invalidate_caches`` only drops the cached directory.

    The first install records the key of every cached ``zipimporter``: the
    task's ``invalidate_caches()`` has just re-read their directories, so
    the next task need not read them again."""
    if (sys.version_info >= (3, 13)
            or zipimport.zipimporter.invalidate_caches is _lazy_zip_invalidate):
        return
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._archive_key = _stat_key(finder.archive)
    zipimport.zipimporter.invalidate_caches = _lazy_zip_invalidate


def _task_entry() -> None:
    """Run by the map function at each task's entry in its worker: install
    the lazy ``invalidate_caches``, then freeze the heap, so the daemon's
    post-task ``gc.collect()`` walks only what this task allocates."""
    _install_lazy_zip_invalidate()
    gc.freeze()


def extract_turns(df: DataFrame, text_col: str = "text", extract_fn=None) -> DataFrame:
    """Append ``extracted_text``, ``spans``, ``rule`` and ``fmt`` to ``df``.

    One Arrow map pass; every input column passes through unchanged
    and in order. Rows whose extraction raises come back as
    ``rule='error'`` (per-row isolation — see
    :func:`..functions.dispatch.extract_safe`). ``extract_fn`` injects an
    alternative per-payload extractor (None → ``dispatch.extract``); it is
    also the fault-injection seam for testing the error-isolation path.
    """
    fn = extract_fn if extract_fn is not None else dispatch.extract
    schema = T.StructType(df.schema.fields + EXTRACTION_TYPE.fields)
    names = schema.fieldNames()
    text_idx = df.columns.index(text_col)

    def gen(batches):
        _task_entry()
        for rb in batches:
            rows = [
                dispatch.extract_safe(t, fn)
                for t in rb.column(text_idx).to_pylist()
            ]
            yield pa.RecordBatch.from_arrays(
                rb.columns + [
                    pa.array([r[0] for r in rows], pa.string()),
                    _spans_array([r[1] for r in rows]),
                    pa.array([r[2] for r in rows], pa.string()),
                    pa.array([r[3] for r in rows], pa.string()),
                ],
                names,
            )

    return df.mapInArrow(gen, schema)


def extract_turns_arrow(
    df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    text_col: str = "text",
    extract_fn=None,
) -> DataFrame:
    """``keys`` plus the four extraction columns of :func:`extract_turns`."""
    # A projection of extract_turns, not a second boundary: it exists only
    # because perfbench's workloads import it by name. Delete it once they
    # call extract_turns.
    return extract_turns(df.select(*keys, text_col), text_col, extract_fn).drop(
        text_col
    )


def span_lint(df: DataFrame) -> DataFrame:
    """Distributed output-contract validator for the extraction stage.

    The north-rule invariant this engine is built around — per-turn text
    + span equality under stable ordering — is pinned at unit scale by
    the golden fixtures (reference analog: the per-page assertions in
    ``DocumentIntelligenceServiceTests.cs``-style tests). ``span_lint``
    runs the STRUCTURAL half of that contract over the whole corpus,
    inside the same scan that produced the extraction:

    * spans are well-formed and ordered: ``start <= end`` per span,
      ``end[i] <= start[i+1]`` between spans (non-overlapping, sorted);
    * spans stay in bounds: ``start[0] >= 0``,
      ``end[-1] <= length(source)``;
    * the identity format keeps its identity: ``fmt='plain'`` implies
      ``extracted_text = source`` (the other formats' text equality is
      span-composition-dependent and pinned by the golden fixtures).

    Per (fmt, rule): unit count, violation counts (expected ZERO — a
    nonzero row names the extractor rule that broke contract after a
    release), covered source chars (``Σ end-start``) and extracted
    chars, whose ratio is the per-rule extractiveness the corpus-card
    tracks. All checks are JVM HOF expressions over the spans array —
    no second Python pass, no shuffle beyond the bounded (fmt, rule)
    rollup.
    """
    ordered_ok = F.expr(
        "CASE WHEN size(spans) <= 0 THEN true ELSE"
        " forall(transform(sequence(1, size(spans)), i ->"
        "   spans[i-1].start <= spans[i-1].end"
        "   AND (i = size(spans) OR spans[i-1].end <= spans[i].start)),"
        "  x -> x) END"
    )
    bounds_ok = F.expr(
        "CASE WHEN size(spans) <= 0 THEN true ELSE"
        " spans[0].start >= 0"
        " AND element_at(spans, -1).end <= length(text) END"
    )
    plain_ok = F.when(
        F.col("fmt") == "plain",
        F.col("extracted_text") == F.col("text"),
    ).otherwise(F.lit(True))
    covered = F.expr(
        "aggregate(spans, CAST(0 AS BIGINT),"
        " (acc, s) -> acc + CAST(s.end - s.start AS BIGINT))"
    )
    flag = lambda ok: F.sum(F.when(ok, 0).otherwise(1)).cast("long")  # noqa: E731
    return (
        df.select(
            "fmt",
            "rule",
            ordered_ok.alias("_ord"),
            bounds_ok.alias("_bnd"),
            plain_ok.alias("_pln"),
            covered.alias("_cov"),
            F.length("extracted_text").cast("long").alias("_exl"),
        )
        .groupBy("fmt", "rule")
        .agg(
            F.count(F.lit(1)).alias("n_units"),
            flag(F.col("_ord")).alias("n_order_violations"),
            flag(F.col("_bnd")).alias("n_bounds_violations"),
            flag(F.col("_pln")).alias("n_plain_violations"),
            F.sum("_cov").alias("covered_chars"),
            F.sum("_exl").alias("extracted_chars"),
        )
    )
