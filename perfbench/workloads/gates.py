"""Correctness gates, run outside the timed window. Every mismatch is
tallied as a failed operation, so it shows in ``failed``/``attempted``."""

from __future__ import annotations

__all__ = ["golden", "golden_and_lint", "rows", "same_rows"]

#: extraction rules whose spans follow reading order rather than source order
_READING_ORDER = frozenset({"layout-2col"})


def golden(ctx, corpus, extracted) -> None:
    """Tally per-turn ``extracted_text``+``fmt`` equality with the
    generator's goldens (every turn), plus ``rule='error'`` rows."""
    got = {(r[0], r[1]): (r[2], r[3], r[4]) for r in extracted.select(
        "conv_id", "turn_idx", "extracted_text", "fmt", "rule").collect()}
    wrong = sum(1 for k, v in corpus.golden.items() if got.get(k, ())[:2] != v)
    ctx.tally("turns differing from their golden", len(corpus.golden),
              wrong + max(len(got) - len(corpus.golden), 0))
    errors = sum(1 for v in got.values() if v[2] == "error")
    ctx.tally("rule='error' rows", len(got), errors)
    ctx.layer["extraction.error_rows"] = errors


def golden_and_lint(ctx, corpus, turns_df) -> None:
    """:func:`golden` over ``extract_turns_arrow(turns_df)``, and
    ``span_lint`` with zero violations."""
    from poc_document_ocr_spark.operators.extraction import (
        extract_turns_arrow, span_lint)

    ex = extract_turns_arrow(turns_df, extract_fn=ctx.extract_fn).join(
        turns_df.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"]
    ).persist()
    try:
        golden(ctx, corpus, ex)
        lint = span_lint(ex).collect()
    finally:
        ex.unpersist()
    # the two-column layout rule emits its spans in reading order (left
    # column, then right), which is not source order, so its order check is
    # reported but not failed
    ctx.report["span_lint.reading_order_spans"] = (sum(
        r["n_order_violations"] for r in lint if r["rule"] in _READING_ORDER),
        "turns")
    ctx.tally("span_lint violations", sum(r["n_units"] for r in lint), sum(
        r["n_bounds_violations"] + r["n_plain_violations"]
        + (0 if r["rule"] in _READING_ORDER else r["n_order_violations"])
        for r in lint))


def rows(df) -> list[str]:
    """The rows of ``df`` with columns in name order, as sorted reprs —
    an order-insensitive value for equality checks."""
    return sorted(repr(tuple(r)) for r in df.select(*sorted(df.columns)).collect())


def same_rows(ctx, what: str, got, expect: list[str]) -> bool:
    """Tally one check: ``got`` holds exactly the rows ``expect`` (as
    returned by :func:`rows`)."""
    ok = rows(got) == expect
    ctx.tally(what, 1, 0 if ok else 1)
    return ok
