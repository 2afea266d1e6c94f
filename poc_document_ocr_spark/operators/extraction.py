"""The extraction operator: Arrow-batched pandas UDF over the ``text`` column.

Rebuild of the reference's per-page OCR stage (the single expensive hop,
``DocumentIntelligenceService.cs:72-201`` called from the per-page loop at
``PdfProcessorFunction.cs:292-356``), as one vectorized UDF stage:

* JVM → Python transfer is Arrow-batched (``spark.sql.execution.arrow.*``);
  the per-element Python work is the parser itself (like any tokenizer).
* The UDF sees ONLY the ``text`` column — column pruning keeps the scan
  narrow (the reference analog: only selected pages' streams reach OCR).
* Filters (turn selection, conv filters) must be applied BEFORE this stage;
  Python UDFs are plan barriers, Catalyst will not push predicates through
  them (SURVEY.md §7.4 trap 5).

Scale notes (100 TB): extraction is turn-local, so the stage runs under
whatever partitioning the scan produced — no shuffle is introduced here.
Long conversations (skew) are safe: we do NOT group by conv_id before
extraction; regrouping happens later in the cheap fold stage with AQE skew
handling (SURVEY.md §4 skew row).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import dispatch
from ..schema import EXTRACTION_DDL, EXTRACTION_TYPE

__all__ = [
    "extraction_col",
    "extraction_diff",
    "extract_turns",
    "extract_turns_arrow",
    "extract_turns_compact",
    "salted_repartition",
    "span_lint",
]


def salted_repartition(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Salted-hash repartition on (conv_id, turn_idx) ahead of the UDF stage.

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


def _rows_safe(texts, fn):
    """Per-row error isolation: a payload whose extraction raises becomes a
    ``rule='error'`` row instead of killing the whole task/batch (reference
    constitution: one bad page must not abort the batch)."""
    return [dispatch.extract_safe(t, fn) for t in texts]


@F.pandas_udf(EXTRACTION_TYPE)
def _extract_udf(text: pd.Series) -> pd.DataFrame:
    rows = _rows_safe(text, dispatch.extract)
    return pd.DataFrame(
        {
            "extracted_text": [r[0] for r in rows],
            "spans": [
                [{"start": s, "end": e} for (s, e) in r[1]] for r in rows
            ],
            "rule": [r[2] for r in rows],
            "fmt": [r[3] for r in rows],
        }
    )


def extraction_col(text_col: str = "text", extract_fn=None) -> Column:
    """The extraction struct column expression.

    ``extract_fn`` injects an alternative per-payload extractor (captured by
    value in the UDF closure — also the fault-injection seam for testing the
    error-isolation path, analogous to the injected clock in PipelineConfig).
    """
    if extract_fn is None:
        return _extract_udf(F.col(text_col))

    @F.pandas_udf(EXTRACTION_TYPE)
    def _udf(text: pd.Series) -> pd.DataFrame:
        rows = _rows_safe(text, extract_fn)
        return pd.DataFrame(
            {
                "extracted_text": [r[0] for r in rows],
                "spans": [
                    [{"start": s, "end": e} for (s, e) in r[1]] for r in rows
                ],
                "rule": [r[2] for r in rows],
                "fmt": [r[3] for r in rows],
            }
        )

    return _udf(F.col(text_col))


def extract_turns_compact(
    df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    text_col: str = "text",
    extract_fn=None,
) -> DataFrame:
    """mapInPandas extraction returning ONLY keys + extraction columns.

    The fast path when downstream does not need the original payload
    columns (the consolidation fold reads just ``extracted_text``): one
    Arrow batch in (keys + text), one flat batch out — no struct column
    assembly/disassembly. Measured at local[32], sf0.1: ~1.6× the
    pandas-udf struct path (15.7s vs 24.8s median). Use
    :func:`extract_turns` when the full input row must pass through.
    """
    import pandas as pd  # local import: executors resolve lazily

    from ..functions import dispatch as _dispatch

    # mapInPandas assigns columns POSITIONALLY — the declared schema must be
    # in `keys` order (the yield order below), not input-schema order, or a
    # caller passing keys in a different order gets silently mis-assigned
    # columns. Look each key up by name; a missing key fails here, not at
    # runtime inside an executor.
    by_name = {f.name: f for f in df.schema.fields}
    missing = [k for k in keys if k not in by_name]
    if missing:
        raise ValueError(f"extract_turns_compact: keys not in input: {missing}")
    schema = ", ".join(
        f"{k} {by_name[k].dataType.simpleString()}" for k in keys
    ) + ", " + EXTRACTION_DDL

    fn = extract_fn if extract_fn is not None else _dispatch.extract

    def gen(batches):
        for pdf in batches:
            rows = [_dispatch.extract_safe(t, fn) for t in pdf[text_col]]
            out = {k: pdf[k].values for k in keys}
            out["extracted_text"] = [r[0] for r in rows]
            out["spans"] = [
                [{"start": s, "end": e} for (s, e) in r[1]] for r in rows
            ]
            out["rule"] = [r[2] for r in rows]
            out["fmt"] = [r[3] for r in rows]
            yield pd.DataFrame(out)

    return df.select(*keys, text_col).mapInPandas(gen, schema)


def extract_turns(df: DataFrame, text_col: str = "text", extract_fn=None) -> DataFrame:
    """Append extraction output columns to a transcripts DataFrame.

    Output adds: ``extracted_text``, ``spans``, ``rule``, ``fmt``.
    Rows whose extraction raises come back as ``rule='error'`` (per-row
    isolation — see :func:`..functions.dispatch.extract_safe`).
    """
    with_struct = df.withColumn("_ex", extraction_col(text_col, extract_fn))
    return (
        with_struct.withColumn("extracted_text", F.col("_ex.extracted_text"))
        .withColumn("spans", F.col("_ex.spans"))
        .withColumn("rule", F.col("_ex.rule"))
        .withColumn("fmt", F.col("_ex.fmt"))
        .drop("_ex")
    )


def extraction_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "fmt",
    text_col: str = "extracted_text",
    span_cols: tuple[str, ...] = ("n_spans", "s0_start", "s0_end"),
) -> DataFrame:
    """Extractor-version regression audit: per group (normally the
    dispatched format), how two extraction runs over the SAME units
    differ — the corpus-scale gate a new extractor release must pass
    before it replaces the old one. The north-rule invariant this engine
    is built around is per-turn text equality under stable ordering
    (reference parity: the golden-fixture pytest gate,
    ``DocumentIntelligenceService.cs``-style output contracts); this
    operator is that same invariant turned into a distributed query, so
    a version bump reports exactly which formats drifted, by how many
    characters, and whether span offsets moved — instead of a pass/fail
    on a 500-row fixture.

    ``old`` carries ``group_col`` (the dispatcher's verdict); ``new``
    needs only ``(id, text, span cols)``. Units present on one side only
    are counted per side under the old side's group (``'(new-only)'``
    when the old row is absent — a new extractor inventing units is
    itself a regression signal).

    Equality is null-safe on every compared column (an empty-format unit
    has NULL span fields on both sides — that's agreement, not drift).
    ``text_equal_ppm`` is one integral division of exact BIGINTs;
    ``sum_len_delta`` is an exact BIGINT sum of per-unit char deltas
    (new − old), bounded by corpus chars — no overflow below ~9.2e18.

    Shape at 10¹² turns: ONE full-outer equi-join on the unit id (both
    sides corpus-cardinality — sort-merge under AQE, never broadcast;
    unit ids are unique per side so the join cannot amplify), then one
    groupBy(group) with map-side partials over a handful of formats.
    Zero Python in the compare path.

    Returns ``(grp, n_both, n_only_old, n_only_new, n_text_equal,
    n_span_equal, text_equal_ppm, sum_len_delta)``.
    """
    o = old.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_grp"),
        F.col(text_col).alias("_to"),
        *[F.col(c).alias(f"_o_{c}") for c in span_cols],
    )
    n = new.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_tn"),
        *[F.col(c).alias(f"_n_{c}") for c in span_cols],
    )
    # presence flags must not key on nullable payload columns — use a
    # dedicated non-null marker per side
    o = o.withColumn("_po", F.lit(1))
    n = n.withColumn("_pn", F.lit(1))
    j = o.join(n, "_id", "full_outer")
    has_o = F.col("_po").isNotNull()
    has_n = F.col("_pn").isNotNull()
    both = has_o & has_n
    span_eq = both
    for c in span_cols:
        span_eq = span_eq & F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    text_eq = both & F.col("_to").eqNullSafe(F.col("_tn"))
    return (
        j.select(
            F.coalesce("_grp", F.lit("(new-only)")).alias("grp"),
            both.cast("long").alias("_b"),
            (has_o & ~has_n).cast("long").alias("_oo"),
            (has_n & ~has_o).cast("long").alias("_on"),
            text_eq.cast("long").alias("_te"),
            span_eq.cast("long").alias("_se"),
            F.when(
                both,
                F.length(F.coalesce("_tn", F.lit("")))
                - F.length(F.coalesce("_to", F.lit(""))),
            ).otherwise(F.lit(0)).cast("long").alias("_ld"),
        )
        .groupBy("grp")
        .agg(
            F.sum("_b").alias("n_both"),
            F.sum("_oo").alias("n_only_old"),
            F.sum("_on").alias("n_only_new"),
            F.sum("_te").alias("n_text_equal"),
            F.sum("_se").alias("n_span_equal"),
            F.expr(
                "CAST(CAST(sum(_te) AS DECIMAL(38,0)) * 1000000"
                " div greatest(sum(_b), 1) AS BIGINT)"
            ).alias("text_equal_ppm"),
            F.sum("_ld").alias("sum_len_delta"),
        )
    )


def extract_turns_arrow(
    df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    text_col: str = "text",
    extract_fn=None,
) -> DataFrame:
    """mapInArrow twin of :func:`extract_turns_compact` — no pandas on
    either boundary.

    The key columns pass through as the incoming Arrow buffers
    (zero-copy — never materialized in Python), the texts come out of
    Arrow via one ``to_pylist()`` (the parser needs Python strings
    anyway), and the nested spans column is built as a
    ``list<struct>`` pyarrow array directly instead of a pandas object
    column that Arrow must re-infer. Measured at local[32], sf0.1:
    11.0s vs 11.4-13.8s for the pandas path (~3-6% — the per-row
    Python parser dominates both; the win is the boundary cost and
    dropping the executor-side pandas dependency/memory). Output is
    byte-identical to extract_turns_compact (pinned by test).
    """
    import pyarrow as pa  # local import: executors resolve lazily

    from ..functions import dispatch as _dispatch

    by_name = {f.name: f for f in df.schema.fields}
    missing = [k for k in keys if k not in by_name]
    if missing:
        raise ValueError(f"extract_turns_arrow: keys not in input: {missing}")
    schema = ", ".join(
        f"{k} {by_name[k].dataType.simpleString()}" for k in keys
    ) + ", " + EXTRACTION_DDL

    fn = extract_fn if extract_fn is not None else _dispatch.extract

    def gen(batches):
        for rb in batches:
            texts = rb.column(rb.schema.get_field_index(text_col)).to_pylist()
            rows = [_dispatch.extract_safe(t, fn) for t in texts]
            arrays = [rb.column(rb.schema.get_field_index(k)) for k in keys]
            arrays.append(pa.array([r[0] for r in rows], pa.string()))
            # spans as flattened offsets + two int32 child arrays — no
            # per-span dict allocation, one ListArray assembly per batch
            offsets = [0]
            starts: list[int] = []
            ends: list[int] = []
            total = 0
            for r in rows:
                sp = r[1]
                total += len(sp)
                offsets.append(total)
                for s, e in sp:
                    starts.append(s)
                    ends.append(e)
            struct = pa.StructArray.from_arrays(
                [pa.array(starts, pa.int32()), pa.array(ends, pa.int32())],
                ["start", "end"],
            )
            arrays.append(
                pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct)
            )
            arrays.append(pa.array([r[2] for r in rows], pa.string()))
            arrays.append(pa.array([r[3] for r in rows], pa.string()))
            yield pa.RecordBatch.from_arrays(
                arrays,
                list(keys) + ["extracted_text", "spans", "rule", "fmt"],
            )

    return df.select(*keys, text_col).mapInArrow(gen, schema)


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
