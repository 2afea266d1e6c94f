"""``extract``: generator corpus in a parquet table → ``extract_turns_arrow``
→ order-insensitive checksum aggregate. No writes, so the work is the
``functions`` kernels plus the JVM↔Python Arrow boundary; ``plans.pipeline``,
the fold and the catalog do nothing. Closed loop, one client: passes run
back to back for the whole measuring window."""

from __future__ import annotations

import time

from .. import stats
from . import gates, kernels

__all__ = ["run", "SIZES"]

SIZES = {"full": {"n_convs": 1000}, "tiny": {"n_convs": 40}}


def _checksum(ex):
    """(bit_xor of per-row hashes, rows) — consumes every output column
    while collecting one row."""
    from pyspark.sql import functions as F

    return ex.agg(
        F.expr("bit_xor(xxhash64(conv_id, turn_idx, extracted_text, spans,"
               " rule, fmt))"),
        F.count(F.lit(1)),
    ).collect()[0]


def run(ctx) -> dict:
    from poc_document_ocr_spark.operators.extraction import extract_turns_arrow
    from poc_document_ocr_spark.schema import TRANSCRIPT_SCHEMA

    corpus = ctx.corpus("extract")
    src = corpus.path + "/turns.parquet"

    def prepare(rep_dir):
        table = rep_dir + "/transcripts"
        (ctx.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(src)
         .repartition(2 * ctx.cores).write.parquet(table))
        return table

    def warm(table):
        # one full pass: Python workers, kernels and the pass's plan
        _checksum(extract_turns_arrow(ctx.spark.read.parquet(table)))
        return table

    setup_s, table = ctx.timed_setup(prepare, warm)

    def one_pass():
        ex = extract_turns_arrow(ctx.spark.read.parquet(table),
                                 extract_fn=ctx.extract_fn)
        return _checksum(ex)

    walls, results = [], []
    t_end = time.perf_counter() + ctx.seconds
    while not walls or time.perf_counter() < t_end:
        with ctx.leg(f"extract.pass{len(walls)}"):
            t0 = time.perf_counter()
            results.append(one_pass())
            walls.append(time.perf_counter() - t0)

    n = corpus.n_turns
    ctx.tally("extract passes with a wrong turn count or checksum drift",
              len(results), sum(1 for r in results
                                if r[1] != n or r[0] != results[0][0]))
    gates.golden_and_lint(ctx, corpus, ctx.spark.read.parquet(table))

    wall = stats.median(walls)
    cpu_ms_per_turn = 1000 * stats.median(list(ctx.cpu.values())) / n
    ctx.report.update({
        "extract_turns_per_s": (n / wall, "turns/s"),
        "extract_passes": (len(walls), "count"),
        "turns": (n, "count"),
    })
    if ctx.trace:
        ctx.layer.update(kernels.measure(corpus, n, wall, ctx.cores))
    return {
        "setup_s": setup_s,
        "turns_per_s": n / wall,
        "cpu_ms_per_turn": cpu_ms_per_turn,
        "latency_p50_ms": 1000 * wall,
        "latency_tail_ms": 1000 * stats.tail(walls),
    }
