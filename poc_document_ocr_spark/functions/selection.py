"""Turn-range selection: print-dialog-style expression → sorted deduped set.

Reference parity: ``PageSelection.TryParse`` / ``ResolveAgainst``
(``src/DocumentOcr.Common/Models/PageSelection.cs:45-168`` and
``tests/.../PageSelectionTests.cs``):

* ``None`` / empty / whitespace expression → *all turns* sentinel.
* Tokens are comma-separated ``N`` or ``A-B`` (1-indexed, inclusive).
* Duplicates and overlaps collapse (``"2,2,3-4,3"`` → {2,3,4}).
* Invalid token, ``A > B``, or out-of-bounds vs the real max turn → error
  that names the offending token and the bound (FR: run fails before any
  extraction happens).

This parse runs driver-side; the result is pushed into the scan as an
``isin``/``between`` predicate *before* the extraction stage
(predicate-pushdown analog of the reference's dispose-before-OCR loop,
``PdfProcessorFunction.cs:292-318``).
"""

from __future__ import annotations

from dataclasses import dataclass

__all__ = ["TurnSelection", "TurnSelectionError"]


class TurnSelectionError(ValueError):
    """Raised for malformed or out-of-bounds selection expressions."""


@dataclass(frozen=True)
class TurnSelection:
    #: None means "all turns" (whitespace/empty expression sentinel).
    turns: tuple[int, ...] | None

    @property
    def is_all(self) -> bool:
        return self.turns is None

    @classmethod
    def parse(cls, expression: str | None) -> "TurnSelection":
        """Parse without bounds (bounds applied in :meth:`resolve_against`)."""
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

    def resolve_against(self, max_turn: int) -> tuple[int, ...]:
        """Bound-check against the real turn count; returns the final set.

        Mirrors the reference's re-parse against the real page count
        (``PdfProcessorFunction.cs:297-305``): an out-of-bounds selection
        fails the run *before* any extraction happens, naming both the
        offending turn and the bound.
        """
        if max_turn < 1:
            raise TurnSelectionError(f"max_turn must be >= 1, got {max_turn}")
        if self.turns is None:
            return tuple(range(1, max_turn + 1))
        bad = [t for t in self.turns if t > max_turn]
        if bad:
            raise TurnSelectionError(
                f"selected turn {bad[0]} exceeds last turn {max_turn}"
            )
        return self.turns
