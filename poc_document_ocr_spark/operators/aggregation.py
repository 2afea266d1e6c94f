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

Fixed costs kept off the fold: its input-independent Column expressions are
built once per py4j gateway (:func:`..session.per_gateway`), so a warm fold
build makes a few hundred py4j round trips, not thousands; and it folds case
with ASCII-only ``translate`` (:func:`_ascii_lower`), so no fold action loads
ICU, which Spark's ``lower``/``upper`` use.
"""

from __future__ import annotations

import string

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import (
    DATE_FIELDS,
    FIELD_NAMES,
    MULTI_VALUE_FIELDS,
    PROVENANCE_TYPE,
    SCHEMA_FIELD_TYPE,
    SIGNATURE_FIELDS,
    SIGNATURE_TRUE_VALUES,
)
from ..session import per_gateway

__all__ = ["with_runs", "consolidate", "parse_ocr_date"]

_NEG_INF = float("-inf")
# every merge set enters the plan sorted: set order varies under hash
# randomisation, the plan text must not
_SIG_TRUE = sorted(SIGNATURE_TRUE_VALUES)
#: every word a case-folded signature value is compared with
_SIG_WORDS = sorted(SIGNATURE_TRUE_VALUES | {"unsigned"})


def _ascii_lower(c: Column) -> Column:
    """``lower(c)`` for the fold's comparisons, with ASCII-only
    ``translate``. Spark's ``lower``/``upper`` map case through ICU
    (``spark.sql.icu.caseMappings.enabled``), and the first such call in a
    JVM loads ICU's data: ~1.8 s wall, ~2 CPU-s.

    Exact only while two facts hold, both pinned by tests:

    * the only non-ASCII code point whose Spark ``lower`` is all-ASCII is
      U+212A KELVIN SIGN (→ ``k``), and no word of ``_SIG_WORDS`` contains
      ``k``; so ``lower(c)`` is one of those words exactly when ``c`` is an
      ASCII case variant of it, which this maps as ``lower`` does;
    * (for :func:`_ascii_upper`) the date patterns' ``(?i)`` matches ASCII
      case variants only, so the month group is ASCII. Java's
      ``UNICODE_CASE``, which ``(?U)`` implies, would break this: with it
      ``(?i)`` also matches ``ſ`` for ``s``, ``ı`` and ``İ`` for ``i``, and
      U+212A for ``k``.
    """
    return F.translate(c, string.ascii_uppercase, string.ascii_lowercase)


def _ascii_upper(c: Column) -> Column:
    """``upper(c)`` for ASCII text; see :func:`_ascii_lower`."""
    return F.translate(c, string.ascii_lowercase, string.ascii_uppercase)


@per_gateway
def _run_columns() -> dict[str, Column]:
    ordered = W.partitionBy("conv_id").orderBy("turn_idx")
    cume = ordered.rowsBetween(W.unboundedPreceding, W.currentRow)
    idc = F.col("extracted_id")
    ffill = F.last(idc, ignorenulls=True).over(cume)
    prev_ffill = F.lag(ffill, 1).over(ordered)
    boundary = F.when(
        idc.isNotNull() & (prev_ffill.isNull() | (idc != prev_ffill)), 1
    ).otherwise(0)
    return {
        "ffill_id": ffill,
        "run_id": F.sum(boundary).over(cume).cast("int"),
        "id_source": F.when(idc.isNotNull(), F.lit("Extracted")).otherwise(
            F.lit("Inferred")
        ),
    }


def with_runs(df: DataFrame) -> DataFrame:
    """Forward-fill + gaps-and-islands run ids of ``extracted_id`` over
    (conv_id, turn_idx).

    Adds columns:

    * ``ffill_id``  — last non-null extracted identifier at-or-before this turn
    * ``run_id``    — 0-based run counter per conversation (0 = leading-orphan
      synthetic group, if any)
    * ``id_source`` — 'Extracted' | 'Inferred' (PageProvenanceEntry invariant)
    """
    return df.withColumns(_run_columns())


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

_MONTHS = "JAN FEB MAR APR MAY JUN JUL AUG SEP OCT NOV DEC".split()


def parse_ocr_date(raw: Column) -> Column:
    """ISO yyyy-MM-dd string or null — column-expression DateFieldParser.

    Each form's groups are picked once by ``compact``; a long month name's
    first three letters are its short name, so one literal map numbers
    both. ``try_to_timestamp`` is the calendar check (Feb 30 and day 0 are
    null); year 0 is refused too, as by .NET's ``DateTime`` (years 1-9999)
    behind ``DateFieldParser.TryBuild``."""
    compact = raw.rlike(_COMPACT_PAT)

    def group(k_compact: int, k_long: int) -> Column:
        return F.when(
            compact, F.regexp_extract(raw, _COMPACT_PAT, k_compact)
        ).otherwise(F.regexp_extract(raw, _LONG_PAT, k_long))

    months = F.create_map(
        *[F.lit(x) for i, name in enumerate(_MONTHS) for x in (name, i + 1)]
    )
    m = F.try_element_at(
        months, _ascii_upper(F.substring(group(2, 2), 1, 3))
    )
    # a raw of neither form leaves every group "" → null → no valid iso
    y, d = group(1, 3).try_cast("int"), group(3, 1).try_cast("int")
    iso = F.format_string("%04d-%02d-%02d", y, m, d)
    valid = F.try_to_timestamp(iso, F.lit("yyyy-MM-dd")).isNotNull()
    return F.when(valid & (y > 0), iso)


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


def _field_struct() -> Column:
    """SchemaField struct of a per-field summary row, its merge rule picked
    by the row's ``field`` (a field that never contributed has no row and
    gets the all-null 'Pending' struct in :func:`consolidate`).

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
    field = F.col("field")
    is_sig, is_date, is_multi = (
        field.isin(*sorted(names))
        for names in (SIGNATURE_FIELDS, DATE_FIELDS, MULTI_VALUE_FIELDS)
    )
    best_raw, best_conf = F.col("best.v"), F.col("best.cf")
    has_nonws = F.col("n_nonws") > 0
    value = (
        F.when(is_sig, F.when(F.col("sig_present"), "true").otherwise("false"))
        .when(is_date, parse_ocr_date(best_raw))
        .when(is_multi, F.when(has_nonws, F.col("concat_v")))
        .otherwise(best_raw)
    )
    confidence = F.when(is_sig, F.col("min_conf_all")).when(
        is_multi, F.when(has_nonws, F.coalesce("min_conf_nonws", F.lit(0.0)))
    ).otherwise(best_conf)
    return _schema_field(value, F.when(is_date, best_raw), confidence)


def _catalog_struct(struct_type: T.StructType, *parts: Column) -> Column:
    """``parts`` as a ``struct_type`` struct, each cast to its field's type
    and named by it: the catalog is the one declaration of what the fold
    writes."""
    return F.struct(
        *[
            c.cast(f.dataType).alias(f.name)
            for c, f in zip(parts, struct_type.fields, strict=True)
        ]
    )


def _schema_field(value: Column, raw_text: Column, confidence: Column) -> Column:
    """A SchemaField with reviewed_* null and status 'Pending'."""
    unreviewed = (*[F.lit(None)] * 3, F.lit("Pending"))
    return _catalog_struct(SCHEMA_FIELD_TYPE, value, raw_text, confidence, *unreviewed)


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
    header, exploded, contribution, per_field, summary, record = (
        _fold_columns()
    )
    keys = ["conv_id", "run_id"]
    headers = turns.groupBy(*keys).agg(*header)
    ex = turns.select(*keys, *exploded).select(*keys, *contribution)
    summaries = (
        ex.groupBy(*keys, "field").agg(*per_field).groupBy(*keys).agg(summary)
    )
    return headers.join(summaries, keys, "left").select(*keys, *record)


@per_gateway
def _fold_columns() -> tuple:
    """:func:`consolidate`'s expressions, step by step: the turn-grain
    header aggregates, the contribution explode and its columns, the
    per-field aggregates, the per-document summary map, and the record
    columns after the keys."""
    contribs = F.coalesce(F.col("contribs"), F.array())
    # FR-006 warn path made observable (the reference only logs,
    # DocumentSchemaMapperService.cs:258-267): count signature contributions
    # whose value is neither signed/present nor 'unsigned'
    bad_sig = lambda c: (  # noqa: E731
        c["field"].isin(*sorted(SIGNATURE_FIELDS))
        & c["raw_value"].isNotNull()
        & ~_ascii_lower(c["raw_value"]).isin(*_SIG_WORDS)
    )
    header = [
        F.min("ffill_id").alias("identifier_raw"),
        F.count(F.lit(1)).cast("int").alias("turn_count"),
        F.sort_array(F.collect_list("turn_idx")).alias("turn_idxs"),
        F.min("turn_idx").alias("first_turn"),
        F.array_sort(
            F.collect_list(
                _catalog_struct(
                    PROVENANCE_TYPE,
                    F.col("turn_idx"),
                    F.col("id_source"),
                    F.col("extracted_id"),
                )
            )
        ).alias("provenance"),
        F.sum(F.size(F.filter(contribs, bad_sig))).cast("int").alias(
            "sig_warnings"
        ),
    ]

    exploded = [F.col("turn_idx").alias("t"), F.explode(contribs).alias("c")]
    contribution = [
        F.col("t"),
        F.col("c.field").alias("field"),
        F.col("c.raw_value").alias("raw"),
        F.col("c.confidence").alias("conf"),
    ]
    nonws = F.col("raw").isNotNull() & (F.trim("raw") != "")
    per_field = [
        # FR-004 winner: max conf (null → -inf), tie → lowest turn
        F.max(
            F.struct(
                F.coalesce("conf", F.lit(_NEG_INF)).alias("c"),
                (-F.col("t")).cast("long").alias("nt"),
                F.col("raw").alias("v"),
                F.col("conf").alias("cf"),
            )
        ).alias("best"),
        F.sum(F.when(nonws, 1).otherwise(0)).alias("n_nonws"),
        F.max(
            F.coalesce(
                _ascii_lower(F.col("raw")).isin(*_SIG_TRUE), F.lit(False)
            )
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
    ]
    summary = F.map_from_entries(
        F.collect_list(F.struct("field", _field_struct()))
    ).alias("_fs")

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
    pending = _schema_field(*[F.lit(None)] * 3)
    record = [
        doc_key.alias("doc_key"),
        *map(F.col, ("turn_count", "turn_idxs", "first_turn", "provenance",
                     "sig_warnings")),
        *[
            F.coalesce(F.try_element_at(fs, F.lit(name)), pending).alias(name)
            for name in FIELD_NAMES
        ],
    ]
    return header, exploded, contribution, per_field, summary, record
