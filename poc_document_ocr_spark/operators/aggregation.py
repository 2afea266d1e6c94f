"""Forward-fill run aggregation + per-field consolidation folds.

Pure DataFrame/window implementation (no Python UDFs) of the reference's
semantic core:

* ``DocumentAggregatorService.AggregatePagesByIdentifier``
  (``src/DocumentOcr.Processor/Services/DocumentAggregatorService.cs:26-76``)
  — forward-fill + *runs* grouping (gaps-and-islands): an extracted
  identifier different from the carried one starts a NEW group even if it
  appeared earlier; turns without an identifier inherit the carried one
  (provenance ``Inferred``); leading orphans form a synthetic group.
* ``DocumentSchemaMapperService`` (``.../DocumentSchemaMapperService.cs``)
  — the four merge rules (FR-004/005/006/002a) + all-13-keys completion.

Scale notes: both windows share one partitioning/ordering
(``conv_id``/``turn_idx``) → a single sort+shuffle; the fold ``groupBy``
reuses the ``conv_id`` hash partitioning. AQE skew-join/partition splitting
handles long conversations; turn-level extraction upstream never groups.

Determinism traps handled (SURVEY.md §7.4):
* Spark sorts are not stable → confidence ties break by explicit
  ``turn_idx`` in the ordering struct (reference relies on stable
  OrderByDescending; spec pins tie → lowest page, ``spec.md:113``).
* Signature confidence = min over ALL contributors (code behavior, not the
  spec's max-over-signed).
* Concat all-null-confidence → 0.0 (the ``DefaultIfEmpty(0.0)`` quirk at
  ``DocumentSchemaMapperService.cs:238``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..schema import (
    DATE_FIELDS,
    FIELD_NAMES,
    MULTI_VALUE_FIELDS,
    SIGNATURE_FIELDS,
)

__all__ = [
    "with_local_index",
    "with_runs",
    "run_headers",
    "consolidate",
    "consolidate_compact",
    "consolidate_auto",
    "parse_ocr_date",
]

_NEG_INF = float("-inf")


def with_local_index(df: DataFrame) -> DataFrame:
    """Document-local re-index: selected turns renumbered 1..N per conversation.

    Reference parity: FR-011/SC-006 (``PdfProcessorFunction.cs:340``) — after
    range selection, units are renumbered 1..N document-locally.
    """
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    return df.withColumn("local_idx", F.row_number().over(w))


def with_runs(df: DataFrame, id_col: str = "extracted_id") -> DataFrame:
    """Forward-fill + gaps-and-islands run ids over (conv_id, turn_idx).

    Adds columns:

    * ``ffill_id``  — last non-null extracted identifier at-or-before this turn
    * ``run_id``    — 0-based run counter per conversation (0 = leading-orphan
      synthetic group, if any)
    * ``id_source`` — 'Extracted' | 'Inferred' (PageProvenanceEntry invariant)
    """
    ordered = W.partitionBy("conv_id").orderBy("turn_idx")
    cume = ordered.rowsBetween(W.unboundedPreceding, W.currentRow)
    idc = F.col(id_col)
    ffill = F.last(idc, ignorenulls=True).over(cume)
    prev_ffill = F.lag(ffill, 1).over(ordered)
    boundary = F.when(
        idc.isNotNull() & (prev_ffill.isNull() | (idc != prev_ffill)), 1
    ).otherwise(0)
    return (
        df.withColumn("ffill_id", ffill)
        .withColumn("run_id", F.sum(boundary).over(cume).cast("int"))
        .withColumn(
            "id_source",
            F.when(idc.isNotNull(), F.lit("Extracted")).otherwise(
                F.lit("Inferred")
            ),
        )
    )


def run_headers(df: DataFrame, id_col: str = "extracted_id") -> DataFrame:
    """Per-(conv_id, run_id) document header: key, turn stats, provenance.

    ``doc_key`` mirrors the reference's synthetic-identifier rule
    (``DocumentSchemaMapperService.cs:67-71``): empty/whitespace identifier →
    ``unknown-<conv_id>-<firstTurn>``.
    """
    grouped = df.groupBy("conv_id", "run_id").agg(
        F.min("ffill_id").alias("identifier_raw"),
        F.count(F.lit(1)).cast("int").alias("turn_count"),
        F.sort_array(F.collect_list("turn_idx")).alias("turn_idxs"),
        F.min("turn_idx").alias("first_turn"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("turn_idx").alias("turn_idx"),
                    F.col("id_source").alias("source"),
                    F.col(id_col).alias("extracted_id"),
                )
            )
        ).alias("provenance"),
    )
    identifier = F.coalesce(F.col("identifier_raw"), F.lit(""))
    doc_key = F.when(
        F.trim(identifier) != "", identifier
    ).otherwise(
        F.concat(F.lit("unknown-"), F.col("conv_id"), F.lit("-"), F.col("first_turn"))
    )
    return grouped.withColumn("doc_key", doc_key).drop("identifier_raw")


# ---------------------------------------------------------------------------
# Date parsing as JVM-side column expressions (no UDF in the fold path).
# Patterns byte-equivalent to functions/datefold.py (reference
# DateFieldParser.cs:21-29); calendar validation via try_make_date.
# ---------------------------------------------------------------------------

_COMPACT_PAT = (
    r"(?i)^\s*(\d{4})(JAN|FEB|MAR|APR|MAY|JUN|JUL|AUG|SEP|OCT|NOV|DEC)"
    r"(\d{1,2})\s*$"
)
_LONG_PAT = (
    r"(?i)^\s*(\d{1,2})\s*(?:ST|ND|RD|TH)?\s*DAY\s*OF\s*"
    r"(JANUARY|FEBRUARY|MARCH|APRIL|MAY|JUNE|JULY|AUGUST|SEPTEMBER|"
    r"OCTOBER|NOVEMBER|DECEMBER)\s*,?\s*(\d{4})\s*$"
)

_SHORT_MONTHS = {
    "JAN": 1, "FEB": 2, "MAR": 3, "APR": 4, "MAY": 5, "JUN": 6,
    "JUL": 7, "AUG": 8, "SEP": 9, "OCT": 10, "NOV": 11, "DEC": 12,
}
_LONG_MONTHS = {
    "JANUARY": 1, "FEBRUARY": 2, "MARCH": 3, "APRIL": 4, "MAY": 5,
    "JUNE": 6, "JULY": 7, "AUGUST": 8, "SEPTEMBER": 9, "OCTOBER": 10,
    "NOVEMBER": 11, "DECEMBER": 12,
}


def _month_lookup(col: Column, table: dict[str, int]) -> Column:
    expr: Column = F.lit(None).cast("int")
    for name, num in table.items():
        expr = F.when(F.upper(col) == name, F.lit(num)).otherwise(expr)
    return expr


def parse_ocr_date(raw: Column) -> Column:
    """ISO yyyy-MM-dd string or null — column-expression DateFieldParser."""
    cy = F.regexp_extract(raw, _COMPACT_PAT, 1)
    cm = F.regexp_extract(raw, _COMPACT_PAT, 2)
    cd = F.regexp_extract(raw, _COMPACT_PAT, 3)
    ld = F.regexp_extract(raw, _LONG_PAT, 1)
    lm = F.regexp_extract(raw, _LONG_PAT, 2)
    ly = F.regexp_extract(raw, _LONG_PAT, 3)

    def build(y: Column, m: Column, d: Column) -> Column:
        # Calendar validation without try_make_date (absent in this build):
        # make_date(y, m, 1) is always valid for m in 1..12, so
        # day(last_day(...)) gives the month length incl. leap years; invalid
        # days (Feb 30) fall out as null, mirroring DateFieldParser.TryBuild.
        yi, di = y.cast("int"), d.cast("int")
        days_in_month = F.dayofmonth(F.last_day(F.make_date(yi, m, F.lit(1))))
        return F.when(
            m.isNotNull() & (di >= 1) & (di <= days_in_month),
            F.format_string("%04d-%02d-%02d", yi, m, di),
        )

    compact = F.when(
        cy != "", build(cy, _month_lookup(cm, _SHORT_MONTHS), cd)
    )
    longf = F.when(ly != "", build(ly, _month_lookup(lm, _LONG_MONTHS), ld))
    return F.coalesce(compact, longf)


# ---------------------------------------------------------------------------
# Folds — single-pass array-expression engine.
#
# The per-document fold runs as ONE groupBy(conv_id, run_id): header
# aggregates plus a flatten-collect of the per-turn contribution arrays;
# the four merge rules (FR-004/005/006/002a,
# ``DocumentSchemaMapperService.cs:48-133``) are then per-row higher-order
# array expressions over the collected contributions — no pivot, no second
# aggregation, no headers join. Round-1 measured the pivot+join shape at 4×
# the cost at local[32]; this shape is one shuffle and stays in codegen.
# ---------------------------------------------------------------------------


def _empty_field_struct() -> Column:
    """(null…, 'Pending') — contract guarantee 1+6, all keys present with
    reviewed_* null at creation (``SchemaField.cs:13-63``)."""
    return F.struct(
        F.lit(None).cast("string").alias("value"),
        F.lit(None).cast("string").alias("raw_text"),
        F.lit(None).cast("double").alias("confidence"),
        F.lit(None).cast("string").alias("reviewed_value"),
        F.lit(None).cast("timestamp").alias("reviewed_at"),
        F.lit(None).cast("string").alias("reviewed_by"),
        F.lit("Pending").alias("status"),
    )


def _field_struct(cs: Column, name: str) -> Column:
    """SchemaField struct for catalog field ``name`` from the document's
    sorted contributions array ``cs`` (struct<t:int, field, raw, conf>).

    Merge-rule parity with the reference mapper:

    * highest-confidence-wins (FR-004): max over (conf→-inf, -turn) —
      tie → lowest turn (spec.md:113);
    * ordered concat (FR-005): non-whitespace parts in turn order, min
      confidence, all-null-confidence → 0.0 (the ``DefaultIfEmpty(0.0)``
      quirk, ``DocumentSchemaMapperService.cs:238``);
    * signature OR-fold (FR-006): signed/present case-insensitive, min
      confidence over ALL contributors (code behavior);
    * date parse (FR-002a): winner's raw parsed, raw preserved.
    """
    parts = F.filter(cs, lambda c: c["field"] == name)
    nonws = F.filter(
        parts,
        lambda c: c["raw"].isNotNull() & (F.trim(c["raw"]) != ""),
    )

    best = F.array_max(
        F.transform(
            parts,
            lambda c: F.struct(
                F.coalesce(c["conf"], F.lit(_NEG_INF)).alias("c"),
                (-c["t"]).cast("long").alias("nt"),
                c["raw"].alias("v"),
                c["conf"].alias("cf"),
            ),
        )
    )
    best_raw, best_conf = best["v"], best["cf"]

    if name in SIGNATURE_FIELDS:
        sig_present = (
            F.size(
                F.filter(
                    parts,
                    lambda c: F.coalesce(
                        F.lower(c["raw"]).isin("signed", "present"),
                        F.lit(False),
                    ),
                )
            )
            > 0
        )
        value = F.when(
            F.size(parts) > 0,
            F.when(sig_present, "true").otherwise("false"),
        )
        confidence = F.array_min(F.transform(parts, lambda c: c["conf"]))
        raw_text = F.lit(None).cast("string")
    elif name in DATE_FIELDS:
        value = parse_ocr_date(best_raw)
        confidence = best_conf
        raw_text = best_raw
    elif name in MULTI_VALUE_FIELDS:
        n_parts = F.size(nonws)
        value = F.when(
            n_parts > 0,
            F.array_join(F.transform(nonws, lambda c: c["raw"]), "\n"),
        )
        confidence = F.when(
            n_parts > 0,
            F.coalesce(
                F.array_min(F.transform(nonws, lambda c: c["conf"])),
                F.lit(0.0),
            ),
        )
        raw_text = F.lit(None).cast("string")
    else:
        value = best_raw
        confidence = best_conf
        raw_text = F.lit(None).cast("string")

    return F.struct(
        value.cast("string").alias("value"),
        raw_text.alias("raw_text"),
        confidence.cast("double").alias("confidence"),
        F.lit(None).cast("string").alias("reviewed_value"),
        F.lit(None).cast("timestamp").alias("reviewed_at"),
        F.lit(None).cast("string").alias("reviewed_by"),
        F.lit("Pending").alias("status"),
    )


def _header_agg_exprs(id_col: str) -> list[Column]:
    """The shared per-document header aggregates (both fold paths)."""
    return [
        F.min("ffill_id").alias("identifier_raw"),
        F.count(F.lit(1)).cast("int").alias("turn_count"),
        F.sort_array(F.collect_list("turn_idx")).alias("turn_idxs"),
        F.min("turn_idx").alias("first_turn"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("turn_idx").alias("turn_idx"),
                    F.col("id_source").alias("source"),
                    F.col(id_col).alias("extracted_id"),
                )
            )
        ).alias("provenance"),
    ]


def _doc_key_expr() -> Column:
    """Synthetic-identifier rule shared by both fold paths
    (``DocumentSchemaMapperService.cs:67-71``)."""
    identifier = F.coalesce(F.col("identifier_raw"), F.lit(""))
    return F.when(F.trim(identifier) != "", identifier).otherwise(
        F.concat(
            F.lit("unknown-"), F.col("conv_id"), F.lit("-"), F.col("first_turn")
        )
    )


def _consolidate_grouped(
    turns: DataFrame, id_col: str = "extracted_id"
) -> DataFrame:
    """One groupBy(conv_id, run_id) → headers + all 13 SchemaField structs.

    ``turns`` is turn-grain with run columns (``with_runs``) plus a
    ``contribs`` array column (struct<field, raw_value, confidence>; null or
    empty for turns without recognized field lines).
    """
    with_t = F.transform(
        F.coalesce(F.col("contribs"), F.array()),
        lambda c: F.struct(
            F.col("turn_idx").alias("t"),
            c["field"].alias("field"),
            c["raw_value"].alias("raw"),
            c["confidence"].alias("conf"),
        ),
    )
    grouped = turns.groupBy("conv_id", "run_id").agg(
        *_header_agg_exprs(id_col),
        # all contributions of the document, sorted by (turn, field, raw) —
        # a total order, so the fold is deterministic at any parallelism
        F.array_sort(F.flatten(F.collect_list(with_t))).alias("_cs"),
    )

    doc_key = _doc_key_expr()
    cs = F.col("_cs")
    # FR-006 warn path made observable (the reference only logs,
    # DocumentSchemaMapperService.cs:258-267): count signature contributions
    # whose value is neither signed/present nor 'unsigned'
    sig_warnings = F.size(
        F.filter(
            cs,
            lambda c: c["field"].isin(*SIGNATURE_FIELDS)
            & c["raw"].isNotNull()
            & ~F.lower(c["raw"]).isin("signed", "present", "unsigned"),
        )
    ).cast("int")
    return grouped.select(
        "conv_id",
        "run_id",
        doc_key.alias("doc_key"),
        "turn_count",
        "turn_idxs",
        "first_turn",
        "provenance",
        sig_warnings.alias("sig_warnings"),
        *[_field_struct(cs, name).alias(name) for name in FIELD_NAMES],
    )


def consolidate_compact(extracted: DataFrame) -> DataFrame:
    """Extracted turns → consolidated records in a single linear plan.

    The production fold path: contributions and the per-turn identifier are
    array/scalar column expressions over ``extracted_text`` (no explode, no
    groupBy+join back), runs are one window pass, and the fold is ONE
    aggregation — two shuffles end-to-end (window sort + group), zero
    persists, zero Python.

    **Per-document memory bound (the assumption this shape buys its speed
    with):** the fold collects every contribution of one ``(conv_id,
    run_id)`` document into a single ``_cs`` array (plus provenance /
    turn_idxs) inside one aggregation buffer — ``collect_list`` cannot
    spill incrementally, so the largest document must fit one task's heap.
    At ~100 bytes/contribution that is comfortable to ~10⁶ contributions
    (~100 MB buffer) and a straggler/OOM hazard beyond. Transcript documents
    are run-scoped (an identifier change CLOSES the run), so real documents
    sit orders of magnitude below the bound; for inputs that violate it
    (million-field documents), use the long-format escape hatch —
    :func:`consolidate` over ``extract_field_contributions`` pre-aggregates
    per (turn) and can be extended per (field) — analogous to the opt-in
    ``salt_extraction`` flag for skewed extraction inputs.
    """
    from .fields import best_extracted_id, contributions_array

    t = extracted.select(
        "conv_id",
        "turn_idx",
        contributions_array("extracted_text").alias("contribs"),
    ).withColumn("extracted_id", best_extracted_id(F.col("contribs")))
    return _consolidate_grouped(with_runs(t))


def _field_struct_from_summary(fs: Column, name: str) -> Column:
    """SchemaField struct for catalog field ``name`` from the document's
    per-field summary array ``fs`` (the long fold path's equivalent of
    :func:`_field_struct` — same merge rules, same quirks, but computed
    from streaming per-field aggregates instead of the full contributions
    array). A missing summary row (field never contributed) falls out as
    the all-null 'Pending' struct through null propagation."""
    # F.get: null (not error) when the field never contributed / fs is null
    s = F.get(F.filter(fs, lambda x: x["field"] == name), 0)
    best_raw, best_conf = s["best"]["v"], s["best"]["cf"]

    if name in SIGNATURE_FIELDS:
        value = F.when(
            s["n_parts"] > 0,
            F.when(s["sig_present"], "true").otherwise("false"),
        )
        confidence = s["min_conf_all"]
        raw_text = F.lit(None).cast("string")
    elif name in DATE_FIELDS:
        value = parse_ocr_date(best_raw)
        confidence = best_conf
        raw_text = best_raw
    elif name in MULTI_VALUE_FIELDS:
        value = F.when(s["n_nonws"] > 0, s["concat_v"])
        confidence = F.when(
            s["n_nonws"] > 0, F.coalesce(s["min_conf_nonws"], F.lit(0.0))
        )
        raw_text = F.lit(None).cast("string")
    else:
        value = best_raw
        confidence = best_conf
        raw_text = F.lit(None).cast("string")

    return F.struct(
        value.cast("string").alias("value"),
        raw_text.alias("raw_text"),
        confidence.cast("double").alias("confidence"),
        F.lit(None).cast("string").alias("reviewed_value"),
        F.lit(None).cast("timestamp").alias("reviewed_at"),
        F.lit(None).cast("string").alias("reviewed_by"),
        F.lit("Pending").alias("status"),
    )


def _consolidate_grouped_long(
    turns: DataFrame, id_col: str = "extracted_id"
) -> DataFrame:
    """Long-format fold for documents too contribution-heavy for the
    compact path's single ``collect_list`` buffer.

    Shape: explode contributions → groupBy (conv_id, run_id, **field**) —
    best/min/count/bool-or are streaming aggregates with map-side partial
    aggregation, so a million-contribution field costs combiner rows, not
    one array buffer — → regroup the ≤13 per-field summaries per document
    and join the (turn-grain) header aggregation. The ONLY per-group list
    buffer left is the multi-value concat's part list, whose size equals
    the operator's own output string — the semantic floor, not an
    implementation artifact. Headers still carry per-turn provenance /
    turn_idxs arrays (bounded by turn count, not field-line count).

    Same merge-rule semantics as :func:`_consolidate_grouped`, pinned by
    the equality tests.
    """
    bad_sig = lambda c: (
        c["field"].isin(*SIGNATURE_FIELDS)
        & c["raw_value"].isNotNull()
        & ~F.lower(c["raw_value"]).isin("signed", "present", "unsigned")
    )
    warn_per_turn = F.size(
        F.filter(F.coalesce(F.col("contribs"), F.array()), bad_sig)
    )
    headers = (
        turns.withColumn("_warn", warn_per_turn)
        .groupBy("conv_id", "run_id")
        .agg(
            *_header_agg_exprs(id_col),
            F.sum("_warn").cast("int").alias("sig_warnings"),
        )
    )

    ex = turns.select(
        "conv_id",
        "run_id",
        F.col("turn_idx").alias("t"),
        F.explode(F.coalesce(F.col("contribs"), F.array())).alias("c"),
    ).select(
        "conv_id",
        "run_id",
        "t",
        F.col("c.field").alias("field"),
        F.col("c.raw_value").alias("raw"),
        F.col("c.confidence").alias("conf"),
    )
    nonws = F.col("raw").isNotNull() & (F.trim("raw") != "")
    per_field = ex.groupBy("conv_id", "run_id", "field").agg(
        # FR-004 winner: identical ordering struct to the compact path's
        # array_max — max conf (null → -inf), tie → lowest turn
        F.max(
            F.struct(
                F.coalesce("conf", F.lit(_NEG_INF)).alias("c"),
                (-F.col("t")).cast("long").alias("nt"),
                F.col("raw").alias("v"),
                F.col("conf").alias("cf"),
            )
        ).alias("best"),
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.when(nonws, 1).otherwise(0)).alias("n_nonws"),
        F.max(
            F.coalesce(F.lower("raw").isin("signed", "present"), F.lit(False))
        ).alias("sig_present"),
        F.min("conf").alias("min_conf_all"),
        F.min(F.when(nonws, F.col("conf"))).alias("min_conf_nonws"),
        # FR-005 ordered concat: collect ONLY the non-whitespace parts
        # (collect_list skips the when()'s nulls) sorted by the same
        # (turn, raw, conf) order the compact path's sorted _cs induces
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            nonws,
                            F.struct(
                                F.col("t"),
                                F.col("raw").alias("v"),
                                F.col("conf").alias("cf"),
                            ),
                        )
                    )
                ),
                lambda p: p["v"],
            ),
            "\n",
        ).alias("concat_v"),
    )
    summaries = per_field.groupBy("conv_id", "run_id").agg(
        F.collect_list(
            F.struct(
                "field", "best", "n_parts", "n_nonws", "sig_present",
                "min_conf_all", "min_conf_nonws", "concat_v",
            )
        ).alias("_fs")
    )

    fs = F.col("_fs")
    return (
        headers.join(summaries, ["conv_id", "run_id"], "left")
        .select(
            "conv_id",
            "run_id",
            _doc_key_expr().alias("doc_key"),
            "turn_count",
            "turn_idxs",
            "first_turn",
            "provenance",
            "sig_warnings",
            *[
                _field_struct_from_summary(fs, name).alias(name)
                for name in FIELD_NAMES
            ],
        )
    )


def consolidate_auto(
    extracted: DataFrame,
    threshold: int = 100_000,
    id_col: str = "extracted_id",
) -> DataFrame:
    """Compact fold with an AUTOMATIC long-document escape hatch.

    The compact path (:func:`consolidate_compact`) buys its one-shuffle
    speed by collecting every contribution of a document into one
    aggregation buffer — fine to ~10⁶ contributions, an OOM/straggler
    cliff beyond (see its docstring). This router makes the documented
    manual escape hatch automatic: a window over the run partitioning
    counts each document's contributions, documents at or under
    ``threshold`` take the compact fold, heavier ones the long-format
    per-field fold (:func:`_consolidate_grouped_long`) whose buffers are
    streaming aggregates. The count window reuses the run window's
    hash(conv_id) exchange (ClusteredDistribution on a key subset), so
    the guard costs a sort, not a shuffle; outputs are row-identical
    between the two paths (pinned by tests), so
    routing never changes results — only the memory shape.

    The north-rule requirement 'explicit skew handling for long
    conversations', made structural: no configuration, no manual
    routing, bounded task memory at any document size.
    """
    from .fields import best_extracted_id, contributions_array

    t = extracted.select(
        "conv_id",
        "turn_idx",
        contributions_array("extracted_text").alias("contribs"),
    ).withColumn(id_col, best_extracted_id(F.col("contribs")))
    t = with_runs(t, id_col=id_col)
    n_c = F.sum(
        F.size(F.coalesce(F.col("contribs"), F.array()))
    ).over(W.partitionBy("conv_id", "run_id"))
    t = t.withColumn("_n_c", n_c)
    small = _consolidate_grouped(
        t.filter(F.col("_n_c") <= threshold), id_col=id_col
    )
    big = _consolidate_grouped_long(
        t.filter(F.col("_n_c") > threshold), id_col=id_col
    )
    return small.unionByName(big)


def consolidate(
    turns_with_fields: DataFrame,
    contribs: DataFrame,
    id_col: str = "extracted_id",
) -> DataFrame:
    """Headers + folded fields from a long-format contributions table.

    All 13 catalog keys always present (contract guarantee 1,
    ``contracts/IDocumentSchemaMapperService.md:40``); absent fields are
    ``(null, …, 'Pending')`` with reviewed_* null (guarantee 6).

    ``turns_with_fields`` must already carry run columns (``with_runs``);
    ``contribs`` is the long-format contribution table for the same rows.
    This wrapper regroups the long table to turn-grain arrays and runs the
    same single-pass engine as :func:`consolidate_compact` (which is the
    no-extra-shuffle path when contributions are still column expressions).
    """
    arr = contribs.groupBy("conv_id", "turn_idx").agg(
        F.collect_list(
            F.struct(
                F.col("field").alias("field"),
                F.col("raw_value").alias("raw_value"),
                F.col("confidence").alias("confidence"),
            )
        ).alias("contribs")
    )
    t = turns_with_fields.join(arr, ["conv_id", "turn_idx"], "left")
    return _consolidate_grouped(t, id_col=id_col)
