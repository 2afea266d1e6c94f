"""Single-source-of-truth schema catalog.

Mirrors the reference's code-as-catalog pattern
(``src/DocumentOcr.Common/Models/ProcessedDocumentSchema.cs:11-52``): one module
declares the field names, their types, and the merge-rule membership sets, and
every other layer (pipeline, tests, lineage writer) imports from here.

Input table (authoritative, ``BASELINE.json:input_hint``)::

    conv_id:string, turn_idx:int32, role:string, text:string, tool:string, ts:timestamp
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: transcripts table (reference analog: per-page OCR work items)
# ---------------------------------------------------------------------------

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Extraction output (reference analog: ExtractedData payload built in
# DocumentIntelligenceService.cs:72-201, constrained here to four typed
# columns that extraction appends — no dynamic maps cross the Arrow boundary)
# ---------------------------------------------------------------------------

SPAN_TYPE = T.StructType(
    [
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
    ]
)

EXTRACTION_TYPE = T.StructType(
    [
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_TYPE), True),
        T.StructField("rule", T.StringType(), True),
        T.StructField("fmt", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Consolidated-record field catalog (reference: ProcessedDocumentSchema.cs)
# 13 ordered field names; merge-rule membership sets drive the fold layer.
# ---------------------------------------------------------------------------

FIELD_NAMES: tuple[str, ...] = (
    "identifier",
    "firstName",
    "lastName",
    "courtDate",
    "citationIssuedDate",
    "paymentDueDate",
    "phoneNumber",
    "mainCharge",
    "additionalCharges",
    "defendantSignature",
    "officerSignature",
    "courtLocation",
    "notes",
)

assert len(FIELD_NAMES) == 13

#: Fields merged by ordered newline-concat, min confidence
#: (reference MultiValueFields, ProcessedDocumentSchema.cs:58-62).
MULTI_VALUE_FIELDS: frozenset[str] = frozenset({"mainCharge", "additionalCharges"})

#: Fields whose winning raw value is parsed as a date
#: (reference DateFields, ProcessedDocumentSchema.cs:69-74).
DATE_FIELDS: frozenset[str] = frozenset(
    {"courtDate", "citationIssuedDate", "paymentDueDate"}
)

#: Boolean OR-fold fields (reference signature fields,
#: ProcessedDocumentSchema.cs:48-49 + MergeSignatureField).
SIGNATURE_FIELDS: frozenset[str] = frozenset(
    {"defendantSignature", "officerSignature"}
)

#: Values (case-insensitive) that count as a signed signature
#: (DocumentSchemaMapperService.cs:22-26).
SIGNATURE_TRUE_VALUES: frozenset[str] = frozenset({"signed", "present"})

#: Name of the field whose extracted value keys document aggregation
#: (configurable in the reference; DocumentProcessing:IdentifierFieldName).
IDENTIFIER_FIELD = "identifier"

#: Per-field SchemaField struct on the consolidated record
#: (SchemaField.cs:13-63).
SCHEMA_FIELD_TYPE = T.StructType(
    [
        T.StructField("value", T.StringType(), True),
        T.StructField("raw_text", T.StringType(), True),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("reviewed_value", T.StringType(), True),
        T.StructField("reviewed_at", T.TimestampType(), True),
        T.StructField("reviewed_by", T.StringType(), True),
        T.StructField("status", T.StringType(), False),  # Pending|Confirmed|Corrected
    ]
)

#: Provenance entry (PageProvenanceEntry.cs:10-66); invariant:
#: source == 'Inferred' => extracted_id is null; 'Extracted' => non-null.
PROVENANCE_TYPE = T.StructType(
    [
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),  # Extracted|Inferred
        T.StructField("extracted_id", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Lineage / checkpoint table (reference: Operation record, Operation.cs:6-58)
# ---------------------------------------------------------------------------

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("rule_hits", T.MapType(T.StringType(), T.LongType()), True),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("completed_at", T.TimestampType(), True),
        # failure message when status='Failed' (reference: the Operation's
        # error string set in PdfProcessorFunction.cs:237-251 before rethrow)
        T.StructField("error", T.StringType(), True),
    ]
)
