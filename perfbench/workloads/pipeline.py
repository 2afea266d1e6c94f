"""``pipeline``: a bucketed transcripts table (``Catalog.write_bucketed``)
driven through three ``run_pipeline`` legs per cycle —

1. a run cancelled through ``cancel_check`` after half its buckets
   (rounded down);
2. a resume with the same ``run_id``;
3. a re-run with a new ``run_id`` whose every record is duplicate-skipped.

The work is mostly orchestration, folds and catalog writes; leg 3 runs the
same layers read-heavy with no output appends, so a change that speeds the
writes at the cost of the anti-join read shows in its bucket waves. Closed
loop, one client: cycles run back to back until the legs have taken the
measuring window.
"""

from __future__ import annotations

import dataclasses

from .. import stats
from ..tracing import data_files, tree_bytes
from . import gates, kernels

__all__ = ["run", "SIZES"]

#: one bucket: every bucket wave costs ~10 s of driver-side planning on a
#: 4-core machine whatever its size, and two would make a run ~85-110 s.
#: Leg 1 is then cancelled at its first poll, so leg 2 resumes a run with
#: no completed bucket to skip.
SIZES = {"full": {"n_convs": 200, "buckets": 1},
         "tiny": {"n_convs": 30, "buckets": 1}}


def _leg(ctx, name, fn):
    """Run one leg; a leg that raises is tallied as failed. Returns
    (summary or None, wall seconds)."""
    with ctx.leg(name):
        try:
            summary = fn()
        except Exception as e:  # noqa: BLE001 — a failed leg is a result
            ctx.tally(f"{name} raised {type(e).__name__}: {e}"[:300], 1, 1)
            summary = None
        else:
            ctx.tally(name, 1, 0)
    _, t0, t1 = ctx.legs[-1]
    return summary, t1 - t0


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from poc_document_ocr_spark.operators.extraction import extract_turns
    from poc_document_ocr_spark.plans.pipeline import (
        PipelineConfig, consolidate_stage, run_pipeline)
    from poc_document_ocr_spark.schema import TRANSCRIPT_SCHEMA
    from poc_document_ocr_spark.sources.catalog import Catalog

    spark, n_buckets = ctx.spark, ctx.size["buckets"]
    corpus = ctx.corpus("pipeline")

    def prepare(rep_dir):
        cat = Catalog(spark, rep_dir)
        cat.write_bucketed(
            spark.read.schema(TRANSCRIPT_SCHEMA).parquet(corpus.path + "/turns.parquet")
            .repartition(ctx.cores), "transcripts", buckets=n_buckets)
        return rep_dir

    def warm(root):
        # start the Python workers and load the kernels
        extract_turns(spark.read.parquet(root + "/transcripts").limit(64)).count()
        return root

    setup_s, root = ctx.timed_setup(prepare, warm)
    ctx.input_bytes = tree_bytes(root + "/transcripts")
    cat = ctx.catalog(root)
    reference = None

    job, resume, rerun, waves, cycle_cpu = [], [], [], [], []
    summaries = []
    while not job or sum(job) + sum(rerun) < ctx.seconds:
        i = len(job)
        polls = []

        def cancel_after_half():
            polls.append(1)
            return len(polls) > n_buckets // 2

        cfg = PipelineConfig(
            run_id=f"job{i}", output_table=f"consolidated{i}",
            extracted_table=f"extracted{i}", lineage_table=f"lineage{i}",
            cancel_check=cancel_after_half, extract_fn=ctx.extract_fn)
        cfg_resume = dataclasses.replace(cfg, cancel_check=None)
        cfg_rerun = dataclasses.replace(cfg_resume, run_id=f"rerun{i}")
        s1, w1 = _leg(ctx, f"pipeline.c{i}.interrupted",
                      lambda: run_pipeline(spark, cat, cfg))
        s2, w2 = (_leg(ctx, f"pipeline.c{i}.resume",
                       lambda: run_pipeline(spark, cat, cfg_resume))
                  if s1 else (None, 0.0))
        if s2 is None:
            break
        # the output after legs 1+2 is snapshotted and compared once leg 3
        # is done: leg 3 must leave it byte-identical, so the comparison
        # holds for both, and the reference is built with a warm JVM
        before = data_files(cat.path(cfg.output_table))
        s3, w3 = _leg(ctx, f"pipeline.c{i}.rerun",
                      lambda: run_pipeline(spark, cat, cfg_rerun))
        if s3 is None:
            break
        ctx.tally("duplicate re-run changed the output table", 1,
                  int(data_files(cat.path(cfg.output_table)) != before))
        # the turns legs 1+2 extracted: golden-checked, then folded one-shot
        # into the reference (warm by now, and no second extraction pass)
        extracted = cat.read(cfg.extracted_table).filter(
            F.col("run_id") == cfg.run_id).drop("run_id").persist()
        try:
            gates.golden(ctx, corpus, extracted)
            if reference is None:
                reference = gates.rows(consolidate_stage(extracted))
        finally:
            extracted.unpersist()
        gates.same_rows(ctx, "interrupted+resumed output differs from a one-shot "
                        "consolidate_stage", cat.read(cfg.output_table).drop("op_run_id"),
                        reference)
        status = [b["status"] for b in s1["buckets"] + s2["buckets"]]
        ctx.tally("leg summaries off the cancel/resume/skip contract", 3, sum((
            not s1.get("cancelled"),
            status.count("Resumed") != n_buckets // 2
            or status.count("Succeeded") != n_buckets,
            s3["skipped_duplicates"] != len(reference))))
        cycle_cpu.append(sum(ctx.cpu[f"pipeline.c{i}.{leg}"]
                             for leg in ("interrupted", "resume", "rerun")))
        job.append(w1 + w2)
        resume.append(w2)
        rerun.append(w3)
        summaries.append((s1, s2, s3))
        waves += [b["wall_ms"] for s in (s1, s2, s3) for b in s["buckets"]
                  if b["status"] == "Succeeded"]
    if not job:
        raise RuntimeError("no pipeline cycle completed: " + "; ".join(ctx.failures))

    ctx.report.update({
        "job_s": (stats.median(job), "s"),
        "resume_s": (stats.median(resume), "s"),
        "rerun_s": (stats.median(rerun), "s"),
        "cycle_cpu_s": (stats.median(cycle_cpu), "s"),
        "cycles": (len(job), "count"),
        "turns": (corpus.n_turns, "count"),
        "records": (len(reference), "count"),
    })
    if ctx.trace:
        job_waves = [b["wall_ms"] for s1, s2, _ in summaries
                     for b in s1["buckets"] + s2["buckets"] if b["status"] == "Succeeded"]
        ctx.layer.update({
            "pipeline.bucket_ms_p50": stats.median(job_waves),
            "pipeline.bucket_ms_max": max(job_waves),
            "pipeline.skipped_duplicates": stats.median(
                [s3["skipped_duplicates"] for *_, s3 in summaries]),
            "pipeline.resumed_buckets": stats.median(
                [sum(b["status"] == "Resumed" for b in s2["buckets"])
                 for _, s2, _ in summaries]),
            "pipeline.rows_in": sum(b.get("rows_in", 0) for s1, s2, _ in summaries
                                    for b in s1["buckets"] + s2["buckets"]),
            "pipeline.records": len(reference) * len(summaries),
        })
        ctx.layer.update(kernels.measure(corpus, corpus.n_turns, stats.median(job),
                                         ctx.cores))
    return {
        "setup_s": setup_s,
        "turns_per_s": corpus.n_turns / stats.median(job),
        "cpu_ms_per_turn": 1000 * stats.median(cycle_cpu) / corpus.n_turns,
        "latency_p50_ms": stats.median(waves),
        "latency_tail_ms": stats.tail(waves),
    }
