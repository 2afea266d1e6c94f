"""Deterministic synthetic transcript generator + golden expectations.

FIXTURES.md §1-2: conversations of mixed length (incl. a long-tail skew
conversation), per-turn payload mix ≈ 40% HTML-with-boilerplate / 30%
PDF-layout / 30% plain, rows emitted in shuffled order (the pipeline must not
rely on input order). Seeded — same args, same bytes. The golden extracted
text is computed by the *generator's templates*, not by the engine under
test, so golden equality is a real oracle.

Field lines (``identifier: TK-n [0.93]`` …) are embedded in the main content
of some turns so the downstream fold layer has work; boilerplate regions also
embed decoy field lines that MUST NOT leak into extraction.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

__all__ = ["generate", "GeneratedData"]

_WORDS = (
    "the quick brown fox jumps over lazy dog court citation charge officer "
    "signature payment notice hearing defendant record evidence statute "
    "review calendar session motion filing docket county state municipal"
).split()

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


@dataclass
class GeneratedData:
    #: rows: (conv_id, turn_idx, role, text, tool, ts) — shuffled order
    turns: list[tuple]
    #: golden: {(conv_id, turn_idx): (extracted_text, fmt)}
    golden: dict[tuple[str, int], tuple[str, str]]


def _sentence(rng: random.Random, n: int = 8) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _field_lines(rng: random.Random, conv_no: int, turn_idx: int) -> list[str]:
    """Deterministic per-turn field lines for the fold layer."""
    lines = []
    if turn_idx % 3 == 1:  # identifier on every 3rd turn → several runs/conv
        lines.append(
            f"identifier: TK-{conv_no}-{turn_idx // 6} [0.9{turn_idx % 10}]"
        )
    if turn_idx % 4 == 1:
        lines.append(f"firstName: Name{rng.randint(1, 50)} [0.{rng.randint(50, 99)}]")
    if turn_idx % 5 == 1:
        lines.append(f"courtDate: 19{85 + turn_idx % 10}JAN{10 + turn_idx % 15}")
    if turn_idx % 6 == 1:
        lines.append(f"mainCharge: {_sentence(rng, 4)} [0.{rng.randint(50, 99)}]")
    if turn_idx % 7 == 1:
        lines.append("defendantSignature: present [0.88]")
    return lines


def _make_plain(rng: random.Random, core_lines: list[str]) -> tuple[str, str]:
    text = "\n".join(core_lines)
    return text, text


def _make_html(rng: random.Random, core_lines: list[str]) -> tuple[str, str]:
    paras = "".join(f"<p>{ln}</p>" for ln in core_lines)
    text = (
        "<html><head><title>transcript</title></head><body>"
        "<nav><a href='/'>Home</a> <a href='/x'>Search</a> "
        "<a href='/y'>Login</a></nav>"
        "<div class='sidebar'>identifier: DECOY-999 [0.99]</div>"
        f"<article>{paras}</article>"
        f"<footer>generated page &copy; {rng.randint(2020, 2026)}</footer>"
        "</body></html>"
    )
    return text, "\n\n".join(core_lines)


def _make_layout(rng: random.Random, core_lines: list[str]) -> tuple[str, str]:
    if len(core_lines) >= 4 and rng.random() < 0.5:
        # two-column page: left gets the first half, right the rest;
        # trailing \x0c marks the page break (what a PDF text dump emits)
        half = (len(core_lines) + 1) // 2
        left, right = core_lines[:half], core_lines[half:]
        width = max(len(x) for x in left) + 4
        rows = []
        for i in range(half):
            l = left[i]
            r = right[i] if i < len(right) else ""
            rows.append(f"{l:<{width}}{r}".rstrip())
        body = "\n".join(rows) + "\nPage 1 of 1\x0c"
        return body, "\n".join(left + right)
    # two single-column pages with a repeated header + page-number footers
    half = (len(core_lines) + 1) // 2
    p1, p2 = core_lines[:half], core_lines[half:]
    body = (
        "CASE TRANSCRIPT\n" + "\n".join(p1) + "\nPage 1 of 2\x0c"
        "CASE TRANSCRIPT\n" + "\n".join(p2) + "\nPage 2 of 2"
    )
    return body, "\n".join(p1 + p2)


def generate(
    n_convs: int = 20,
    median_turns: int = 8,
    seed: int = 42,
    skew: bool = True,
) -> GeneratedData:
    rng = random.Random(seed)
    turns: list[tuple] = []
    golden: dict[tuple[str, int], tuple[str, str]] = {}
    roles = ("user", "assistant", "system", "tool")

    for c in range(n_convs):
        conv_id = f"conv-{seed}-{c:05d}"
        if skew and c == 0:
            n_turns = median_turns * 100  # the long-tail skew conversation
        else:
            n_turns = max(1, int(rng.gauss(median_turns, median_turns / 3)))
        for t in range(1, n_turns + 1):
            core = _field_lines(rng, c, t) + [
                _sentence(rng, rng.randint(5, 12))
                for _ in range(rng.randint(1, 3))
            ]
            p = rng.random()
            if p < 0.4:
                text, expect = _make_html(rng, core)
                fmt = "html"
            elif p < 0.7:
                text, expect = _make_layout(rng, core)
                fmt = "layout"
            else:
                text, expect = _make_plain(rng, core)
                fmt = "plain"
            role = roles[t % len(roles)]
            tool = "search" if role == "tool" else None
            ts = _EPOCH + timedelta(minutes=c * 1440 + t)
            turns.append((conv_id, t, role, text, tool, ts))
            golden[(conv_id, t)] = (expect, fmt)

    rng.shuffle(turns)  # pipeline must not rely on input order
    return GeneratedData(turns=turns, golden=golden)
