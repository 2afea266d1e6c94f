"""Turn-range selection: print-dialog-style expression → sorted deduped set.

Reference parity: ``PageSelection.TryParse``
(``src/DocumentOcr.Common/Models/PageSelection.cs:45-168`` and
``tests/.../PageSelectionTests.cs``):

* ``None`` / empty / whitespace expression → *all turns* sentinel.
* Tokens are comma-separated ``N`` or ``A-B`` (1-indexed, inclusive).
* Duplicates and overlaps collapse (``"2,2,3-4,3"`` → {2,3,4}).
* Invalid token, ``A > B`` or turn 0 → error naming the offending token.

There is no bound check against a conversation's length. One selection
serves a whole batch of conversations, so a selection takes nothing from a
conversation shorter than it: a selection past every turn extracts no
turns and the run still succeeds (the reference fails the run instead, as
it re-parses against one document's page count).

This parse runs driver-side; the result is pushed into the scan as an
``isin`` predicate *before* the extraction stage
(predicate-pushdown analog of the reference's dispose-before-OCR loop,
``PdfProcessorFunction.cs:292-318``).
"""

from __future__ import annotations

from dataclasses import dataclass

__all__ = ["TurnSelection", "TurnSelectionError"]


class TurnSelectionError(ValueError):
    """Raised for malformed selection expressions."""


@dataclass(frozen=True)
class TurnSelection:
    #: None means "all turns" (whitespace/empty expression sentinel).
    turns: tuple[int, ...] | None

    @property
    def is_all(self) -> bool:
        return self.turns is None

    @classmethod
    def parse(cls, expression: str | None) -> "TurnSelection":
        """Parse into the sorted, deduplicated turn set (no upper bound)."""
        if expression is None or not expression.strip():
            return cls(None)
        selected: set[int] = set()
        for token in expression.split(","):
            tok = token.strip()
            if not tok:
                raise TurnSelectionError(f"empty token in selection: {expression!r}")
            if "-" in tok:
                lo_s, sep, hi_s = tok.partition("-")
                lo_s, hi_s = lo_s.strip(), hi_s.strip()
                if not (lo_s.isdigit() and hi_s.isdigit()):
                    raise TurnSelectionError(f"invalid range token: {tok!r}")
                lo, hi = int(lo_s), int(hi_s)
                if lo > hi:
                    raise TurnSelectionError(
                        f"range start {lo} greater than end {hi} in token {tok!r}"
                    )
                selected.update(range(lo, hi + 1))
            else:
                if not tok.isdigit():
                    raise TurnSelectionError(f"invalid token: {tok!r}")
                selected.add(int(tok))
        if any(t < 1 for t in selected):
            raise TurnSelectionError("turn numbers are 1-indexed; 0 is invalid")
        return cls(tuple(sorted(selected)))
