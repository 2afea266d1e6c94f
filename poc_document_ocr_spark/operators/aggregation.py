"""Forward-fill run aggregation + the per-field consolidation fold.

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

Scale notes: both run windows share one partitioning/ordering
(``conv_id``/``turn_idx``) → a single sort+shuffle. The fold aggregates
per ``(conv_id, run_id, field)`` with streaming aggregates, so its task
memory does not grow with a document's contribution count; AQE
skew-join/partition splitting handles long conversations; turn-level
extraction upstream never groups.

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

__all__ = ["with_runs", "consolidate", "parse_ocr_date"]

_NEG_INF = float("-inf")


def with_runs(df: DataFrame) -> DataFrame:
    """Forward-fill + gaps-and-islands run ids of ``extracted_id`` over
    (conv_id, turn_idx).

    Adds columns:

    * ``ffill_id``  — last non-null extracted identifier at-or-before this turn
    * ``run_id``    — 0-based run counter per conversation (0 = leading-orphan
      synthetic group, if any)
    * ``id_source`` — 'Extracted' | 'Inferred' (PageProvenanceEntry invariant)
    """
    ordered = W.partitionBy("conv_id").orderBy("turn_idx")
    cume = ordered.rowsBetween(W.unboundedPreceding, W.currentRow)
    idc = F.col("extracted_id")
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


# ---------------------------------------------------------------------------
# Date parsing as JVM-side column expressions (no UDF in the fold path).
# Patterns from the reference DateFieldParser.cs:21-29 (compact YYYYMMMDD,
# long "Nth DAY OF MONTH[,] YYYY"; anything else, ISO included, is null).
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
# The fold — per-field streaming aggregates.
#
# Turns explode to one row per contribution and aggregate per (conv_id,
# run_id, field): the four merge rules (FR-004/005/006/002a,
# ``DocumentSchemaMapperService.cs:48-133``) reduce to max/min/count/bool-or
# aggregates with map-side partial aggregation, so no task ever buffers a
# document's contributions. The ≤13 per-field summaries of a document
# regroup into one map keyed by field, which joins the turn-grain header
# aggregation.
# ---------------------------------------------------------------------------


def _field_struct(s: Column, name: str) -> Column:
    """SchemaField struct for catalog field ``name`` from its per-field
    summary ``s`` (null when the field never contributed: every member then
    falls out null through null propagation, leaving the all-null
    'Pending' struct).

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


def consolidate(turns: DataFrame) -> DataFrame:
    """Turn-grain rows → one consolidated record per ``(conv_id, run_id)``.

    ``turns`` carries the :func:`with_runs` columns and a ``contribs``
    array (struct<field, raw_value, confidence>; null or empty for turns
    without recognized field lines). All 13 catalog keys are always present
    (contract guarantee 1, ``contracts/IDocumentSchemaMapperService.md:40``);
    a field that never contributed is ``(null, …, 'Pending')`` with
    reviewed_* null (guarantee 6).

    Memory is bounded at any document size (the explicit skew handling for
    long conversations): the per-field aggregates are streaming, so a
    million-contribution field costs combiner rows, not one array buffer.
    The only per-group list buffers left are the multi-value concat's part
    list, whose size equals the operator's own output string, and the
    header's per-turn provenance / turn_idxs arrays, bounded by turn count,
    not field-line count.
    """
    contribs = F.coalesce(F.col("contribs"), F.array())
    # FR-006 warn path made observable (the reference only logs,
    # DocumentSchemaMapperService.cs:258-267): count signature contributions
    # whose value is neither signed/present nor 'unsigned'
    bad_sig = lambda c: (  # noqa: E731
        c["field"].isin(*SIGNATURE_FIELDS)
        & c["raw_value"].isNotNull()
        & ~F.lower(c["raw_value"]).isin("signed", "present", "unsigned")
    )
    headers = turns.groupBy("conv_id", "run_id").agg(
        F.min("ffill_id").alias("identifier_raw"),
        F.count(F.lit(1)).cast("int").alias("turn_count"),
        F.sort_array(F.collect_list("turn_idx")).alias("turn_idxs"),
        F.min("turn_idx").alias("first_turn"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("turn_idx").alias("turn_idx"),
                    F.col("id_source").alias("source"),
                    F.col("extracted_id").alias("extracted_id"),
                )
            )
        ).alias("provenance"),
        F.sum(F.size(F.filter(contribs, bad_sig))).cast("int").alias(
            "sig_warnings"
        ),
    )

    ex = turns.select(
        "conv_id",
        "run_id",
        F.col("turn_idx").alias("t"),
        F.explode(contribs).alias("c"),
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
        # FR-004 winner: max conf (null → -inf), tie → lowest turn
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
        # (collect_list skips the when()'s nulls), sorted by (turn, raw,
        # conf) — a total order, so the fold is deterministic at any
        # parallelism
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
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    "field",
                    F.struct(
                        "best", "n_parts", "n_nonws", "sig_present",
                        "min_conf_all", "min_conf_nonws", "concat_v",
                    ),
                )
            )
        ).alias("_fs")
    )

    # synthetic-identifier rule (DocumentSchemaMapperService.cs:67-71):
    # empty/whitespace identifier → unknown-<conv_id>-<firstTurn>
    identifier = F.coalesce(F.col("identifier_raw"), F.lit(""))
    doc_key = F.when(F.trim(identifier) != "", identifier).otherwise(
        F.concat(
            F.lit("unknown-"), F.col("conv_id"), F.lit("-"), F.col("first_turn")
        )
    )
    # try_element_at: null, not an ANSI error, for a field that never
    # contributed (and for a document with no contributions, _fs null)
    fs = F.col("_fs")
    return headers.join(summaries, ["conv_id", "run_id"], "left").select(
        "conv_id",
        "run_id",
        doc_key.alias("doc_key"),
        "turn_count",
        "turn_idxs",
        "first_turn",
        "provenance",
        "sig_warnings",
        *[
            _field_struct(F.try_element_at(fs, F.lit(name)), name).alias(name)
            for name in FIELD_NAMES
        ],
    )
