"""``functions`` layer: single-thread, in-process time per turn of the
extraction kernels, measured on a fixed sample of the workload's payloads."""

from __future__ import annotations

import time
from collections import Counter

__all__ = ["measure"]

#: payloads per format in the sample, and the minimum timed span per kernel
_SAMPLE, _MIN_S = 200, 0.2


def _us_per_call(fn, payloads) -> float:
    calls, t0 = 0, time.perf_counter()
    while True:
        for p in payloads:
            fn(p)
        calls += len(payloads)
        elapsed = time.perf_counter() - t0
        if elapsed >= _MIN_S:
            return 1e6 * elapsed / calls


def measure(corpus, turns: int, wall_s: float, cores: int) -> dict:
    """``functions.{html,layout,plain,sniff}_us`` and ``functions.kernel_share``
    = turns × mean µs per turn ÷ cores ÷ ``wall_s`` — the share of the
    measured wall the kernels alone would fill on every core."""
    from poc_document_ocr_spark.functions import dispatch

    by_fmt: dict[str, list[str]] = {}
    texts = corpus.turns.column("text").to_pylist()
    keys = zip(corpus.turns.column("conv_id").to_pylist(),
               corpus.turns.column("turn_idx").to_pylist())
    for text, key in zip(texts, keys):
        group = by_fmt.setdefault(corpus.golden[key][1], [])
        if len(group) < _SAMPLE:
            group.append(text)
    out = {f"functions.{fmt}_us": _us_per_call(dispatch.extract, by_fmt.get(fmt, [""]))
           for fmt in ("html", "layout", "plain")}
    out["functions.sniff_us"] = _us_per_call(dispatch.sniff_format, texts[:3 * _SAMPLE])
    # mean over the corpus's own format mix
    counts = Counter(fmt for _text, fmt in corpus.golden.values())
    mean_us = sum(n * out[f"functions.{fmt}_us"] for fmt, n in counts.items()) / len(
        corpus.golden)
    out["functions.kernel_share"] = turns * mean_us / 1e6 / cores / wall_s
    return out
