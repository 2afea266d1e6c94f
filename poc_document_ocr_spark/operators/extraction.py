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
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import dispatch
from ..schema import EXTRACTION_TYPE

__all__ = [
    "extract_turns",
    "extract_turns_arrow",
    "salted_repartition",
    "span_lint",
]


def salted_repartition(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Salted-hash repartition on (conv_id, turn_idx) ahead of extraction.

    A SKEW/packing remedy, not a default: it inserts a full shuffle of the
    corpus before the map stage, and measured at 4 separate executor JVMs
    that shuffle DOUBLED extraction time (24.5s vs 12.3s at sf0.1) — in
    multi-process topologies shuffle blocks cross process/disk boundaries.
    The default extraction path instead runs under the scan's own
    partitioning and gets its parallelism from input splits
    (``spark.sql.files.maxPartitionBytes`` vs file sizes). Reach for the
    salt only when the layout defeats that: pathological file-packing
    (thousands of tiny files → a handful of splits) or an input where one
    split holds a disproportionate share of the *bytes-per-turn* cost.
    Extraction is turn-local, so the salt may include ``turn_idx`` — a
    million-turn conversation spreads across all partitions.
    Default width: 4× the cluster's default parallelism.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 4
    return df.repartition(
        num_partitions, F.xxhash64(F.col("conv_id"), F.col("turn_idx"))
    )


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


def span_lint(
    df: DataFrame,
    text_col: str = "text",
    group_cols: tuple[str, ...] = ("fmt", "rule"),
) -> DataFrame:
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
        f" spans[0].start >= 0"
        f" AND element_at(spans, -1).end <= length({text_col}) END"
    )
    plain_ok = F.when(
        F.col("fmt") == "plain",
        F.col("extracted_text") == F.col(text_col),
    ).otherwise(F.lit(True))
    covered = F.expr(
        "aggregate(spans, CAST(0 AS BIGINT),"
        " (acc, s) -> acc + CAST(s.end - s.start AS BIGINT))"
    )
    flag = lambda ok: F.sum(F.when(ok, 0).otherwise(1)).cast("long")  # noqa: E731
    return (
        df.select(
            *group_cols,
            ordered_ok.alias("_ord"),
            bounds_ok.alias("_bnd"),
            plain_ok.alias("_pln"),
            covered.alias("_cov"),
            F.length("extracted_text").cast("long").alias("_exl"),
        )
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_units"),
            flag(F.col("_ord")).alias("n_order_violations"),
            flag(F.col("_bnd")).alias("n_bounds_violations"),
            flag(F.col("_pln")).alias("n_plain_violations"),
            F.sum("_cov").alias("covered_chars"),
            F.sum("_exl").alias("extracted_chars"),
        )
    )
