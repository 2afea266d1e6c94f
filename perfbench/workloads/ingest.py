"""``ingest``: an open loop into a running ``stream_consolidate_to_catalog``.

A generator thread in this process drops one small transcript parquet file
(``turns_per_file`` turns of the shuffled corpus, so conversations span
files and micro-batches) into the query's input directory every
``interval_s`` seconds, on a fixed schedule that does not slow when the
query does. The query runs with the program's default trigger (a
processing-time trigger of 0: the next micro-batch starts as soon as the
previous one ends and a new file is listed). Per-micro-batch fixed costs —
planning, the bucket-scoped re-fold and ``overwrite_partitions`` — dominate.

A file's latency runs from its *scheduled* drop to the commit of the
micro-batch that held it, read from the query checkpoint: ``sources/0``
maps files to batch ids and the mtime of ``commits/<id>`` is the commit.
Files not committed ``grace`` seconds after the last drop are the backlog;
each counts as a failed operation.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pyarrow.parquet as pq

from .. import stats
from . import gates

__all__ = ["run", "SIZES"]

SIZES = {
    "full": {"n_convs": 150, "turns_per_file": 10, "interval_s": 0.1,
             "warm_files": 2, "grace_s": 20.0},
    "tiny": {"n_convs": 12, "turns_per_file": 10, "interval_s": 0.5,
             "warm_files": 1, "grace_s": 60.0},
}


def _checkpoint_commits(ck: str) -> dict[str, float]:
    """File basename → commit time (epoch s) of the micro-batch holding it."""
    commits = {}
    cdir = os.path.join(ck, "commits")
    for name in os.listdir(cdir) if os.path.isdir(cdir) else ():
        if name.isdigit():
            commits[int(name)] = os.stat(os.path.join(cdir, name)).st_mtime
    out = {}
    sdir = os.path.join(ck, "sources", "0")
    for name in os.listdir(sdir) if os.path.isdir(sdir) else ():
        if name.startswith("."):
            continue
        with open(os.path.join(sdir, name)) as f:
            for line in f.read().splitlines()[1:]:  # line 0 is the log version
                entry = json.loads(line)
                if entry["batchId"] in commits:
                    out[os.path.basename(entry["path"])] = commits[entry["batchId"]]
    return out


class _Generator(threading.Thread):
    """Moves staged files into the input directory at ``t0 + k·interval``;
    records when each was due and how late the move happened."""

    def __init__(self, files, in_dir, interval_s, t0):
        super().__init__(daemon=True)
        self.files, self.in_dir, self.interval_s, self.t0 = files, in_dir, interval_s, t0
        self.due: dict[str, float] = {}
        self.late: list[float] = []

    def run(self):
        for k, path in enumerate(self.files):
            due = self.t0 + k * self.interval_s
            time.sleep(max(0.0, due - time.time()))
            name = os.path.basename(path)
            os.rename(path, os.path.join(self.in_dir, name))
            self.late.append(time.time() - due)
            self.due[name] = due


def run(ctx) -> dict:
    from poc_document_ocr_spark.operators.extraction import extract_turns
    from poc_document_ocr_spark.plans.pipeline import consolidate_stage
    from poc_document_ocr_spark.streaming.ingest import stream_consolidate_to_catalog

    spark, size = ctx.spark, ctx.size
    corpus = ctx.corpus("ingest")
    per = size["turns_per_file"]
    n_files = min(size["warm_files"] + int(ctx.seconds / size["interval_s"]),
                  corpus.n_turns // per)

    def prepare(rep_dir):
        stage = os.path.join(rep_dir, "stage")
        os.makedirs(stage)
        files = []
        for k in range(n_files):
            path = os.path.join(stage, f"part-{k:05d}.parquet")
            pq.write_table(corpus.turns.slice(k * per, per), path)
            files.append(path)
        return rep_dir, files

    def warm(prepared):
        # start the query and push a first micro-batch through it: Python
        # workers, kernels and the sink's plans
        rep_dir, files = prepared
        in_dir = os.path.join(rep_dir, "in")
        os.makedirs(in_dir)
        cat = ctx.catalog(os.path.join(rep_dir, "wh"))
        ck = os.path.join(rep_dir, "checkpoint")
        query = stream_consolidate_to_catalog(
            spark, cat, in_dir, "extracted", "records", ck, run_id="ingest",
            available_now=False)
        for path in files[:size["warm_files"]]:
            os.rename(path, os.path.join(in_dir, os.path.basename(path)))
        query.processAllAvailable()
        return {"query": query, "cat": cat, "ck": ck, "in": in_dir,
                "files": files[size["warm_files"]:]}

    setup_s, st = ctx.timed_setup(prepare, warm)
    ctx.input_bytes = sum(os.path.getsize(p) for p in st["files"])
    query = st["query"]
    warm_batches = len(query.recentProgress)
    try:
        with ctx.leg("ingest.open_loop"):
            gen = _Generator(st["files"], st["in"], size["interval_s"],
                             time.time() + 0.05)
            gen.start()
            gen.join()
            deadline = time.time() + size["grace_s"]
            while time.time() < deadline:
                if len(set(gen.due) - set(_checkpoint_commits(st["ck"]))) == 0:
                    break
                time.sleep(0.05)
        committed = _checkpoint_commits(st["ck"])
        backlog = [n for n in gen.due if n not in committed]
        ctx.tally("files not committed within the grace period (backlog)",
                  len(gen.due), len(backlog))
        query.processAllAvailable()
        progress = [p for p in query.recentProgress[warm_batches:]
                    if p["numInputRows"] > 0]
    finally:
        query.stop()
    exc = query.exception()
    ctx.tally("streaming query failed", 1, 0 if exc is None else 1)

    gates.same_rows(
        ctx, "ingest records table differs from the batch output after the drain",
        st["cat"].read("records").drop("bucket"),
        gates.rows(consolidate_stage(extract_turns(spark.read.parquet(st["in"])))))

    lags = [1000 * (committed[n] - due) for n, due in gen.due.items() if n in committed]
    first = min(gen.due.values())
    last_commit = max(committed[n] for n in gen.due if n in committed)
    ctx.report.update({
        "ingest_lag_p50_ms": (stats.median(lags), "ms"),
        "ingest_lag_tail_ms": (stats.tail(lags), "ms"),
        "ingest_lag_tail_is": (stats.tail_label(len(lags)), f"of {len(lags)} files"),
        "ingest_backlog_files": (len(backlog), "files"),
        "ingest_files": (len(gen.due), "files"),
        "ingest_rate_files_per_s": (1 / size["interval_s"], "1/s"),
        "ingest_micro_batches": (len(progress), "count"),
    })
    if ctx.trace:
        def p50(key):
            return stats.median([p["durationMs"].get(key, 0) for p in progress])

        ctx.layer.update({
            "ingest.batches": len(progress),
            "ingest.plan_ms_p50": p50("queryPlanning"),
            "ingest.add_batch_ms_p50": p50("addBatch"),
            "ingest.wal_commit_ms_p50": p50("walCommit"),
            "ingest.generator_late_ms": 1000 * max(gen.late),
            "ingest.new_rows": len(gen.due) * per,
        })
    return {
        "setup_s": setup_s,
        "turns_per_s": len(lags) * per / (last_commit - first),
        "cpu_ms_per_turn": 1000 * ctx.cpu["ingest.open_loop"] / (len(lags) * per),
        "latency_p50_ms": stats.median(lags),
        "latency_tail_ms": stats.tail(lags),
    }
