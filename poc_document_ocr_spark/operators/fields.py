"""Per-turn field extraction: extracted text → a field contributions array.

Reference analog: the typed field dictionary the OCR service emits per page
(``DocumentIntelligenceService.cs:108-183``, keys ``valueString``/``content``/
``confidence``/...). In the transcript rebuild, fields appear in extracted
main content as ``key: value [confidence]`` lines, e.g.::

    identifier: TK-4711 [0.93]
    courtDate: 1985JAN12 [0.88]
    mainCharge: Speeding 42 in a 25

The extractor is pure column expressions (split → filter → regexp): it stays
inside whole-stage codegen, introduces no shuffle, and keeps the turn one row.

Also implements the identifier-extraction predicate (reference
``TryExtractIdentifier``, ``DocumentAggregatorService.cs:78-100``):
``coalesce(nullif(trim(value_string),''), nullif(trim(content),''))`` —
transposed here to the extracted field value, whitespace-only → null.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..schema import FIELD_NAMES, IDENTIFIER_FIELD

__all__ = ["contributions_array", "best_extracted_id"]

#: ``key: value [0.93]`` — confidence suffix optional; value may be empty.
_FIELD_LINE_PAT = r"^([A-Za-z][A-Za-z0-9_]*)\s*:\s*(.*?)\s*(?:\[(0(?:\.\d+)?|1(?:\.0+)?)\])?\s*$"


def _pre_colon_key(line: Column) -> Column:
    """Text before the first ':' with ALL trailing whitespace stripped —
    consistent with the full pattern's ``\\s*`` before the colon. The
    anchored ``\\s+$`` replace is linear, so long payload lines stay cheap."""
    return F.regexp_replace(F.substring_index(line, ":", 1), r"\s+$", "")


def contributions_array(text_col: str = "extracted_text") -> Column:
    """Per-turn field contributions as an
    ``array<struct<field, raw_value, confidence>>`` column expression.

    One struct per ``key: value [confidence]`` line whose key is a catalog
    field; a line where both raw_value and confidence would be null is
    dropped (reference ``CollectContributions`` skip,
    ``DocumentSchemaMapperService.cs:150-153``). Entirely JVM-side
    higher-order functions — stays in whole-stage codegen.
    """
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    # Cheap prefilter before the regex: a matching line's text before the
    # first ':' (modulo the pattern's \s* before the colon) must be exactly a
    # catalog field name. Payload lines — the vast majority, and the long
    # ones where the lazy-group regex backtracks quadratically — never reach
    # the regex. Exactly the lines the full pattern would keep survive: the
    # pattern allows ANY trailing whitespace before ':' (\s*), so the strip
    # must too — rtrim alone drops 'firstName\t: x' that the regex keeps.
    cands = F.filter(
        lines,
        lambda l: _pre_colon_key(l).isin(*FIELD_NAMES),
    )
    parsed = F.transform(
        cands,
        lambda l: F.struct(
            F.regexp_extract(l, _FIELD_LINE_PAT, 1).alias("field"),
            F.nullif(F.regexp_extract(l, _FIELD_LINE_PAT, 2), F.lit("")).alias(
                "raw_value"
            ),
            F.nullif(F.regexp_extract(l, _FIELD_LINE_PAT, 3), F.lit(""))
            .cast("double")
            .alias("confidence"),
        ),
    )
    return F.filter(
        parsed,
        lambda c: c["field"].isin(*FIELD_NAMES)
        & (c["raw_value"].isNotNull() | c["confidence"].isNotNull()),
    )


def best_extracted_id(
    contribs_col: Column, id_field: str = IDENTIFIER_FIELD
) -> Column:
    """Per-turn extracted identifier from a contributions array.

    If a turn carries several identifier lines, the highest confidence
    wins; tie → max trimmed value. Whitespace-only values are null
    (TryExtractIdentifier parity, ``DocumentAggregatorService.cs:78-100``).
    """
    cands = F.filter(
        contribs_col,
        lambda c: (c["field"] == id_field)
        & (F.trim(F.coalesce(c["raw_value"], F.lit(""))) != ""),
    )
    best = F.array_max(
        F.transform(
            cands,
            lambda c: F.struct(
                F.coalesce(c["confidence"], F.lit(float("-inf"))).alias("c"),
                F.trim(c["raw_value"]).alias("v"),
            ),
        )
    )
    return best["v"]
