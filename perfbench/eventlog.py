"""Per-layer metrics of a traced run, from its Spark event log and spans.

Only work inside the timed legs counts: a Spark job belongs to the leg
whose wall window holds its submission time. Stages map to layers by the
plan nodes whose SQL metrics they update —

* a Python-UDF node (``MapInArrow``, ``ArrowEvalPython``, …) → extraction;
* a file write (``WriteFiles``, ``InsertInto…``) → catalog;
* otherwise, a stage of a plan that holds a ``Window`` → fold (the
  forward-fill runs and the fold aggregate sit behind the run window);
* anything else (lineage reads, counts of bookkeeping tables) → other.
"""

from __future__ import annotations

import json
import os
import re

__all__ = ["analyse"]

_EXTRACTION = frozenset({"MapInArrow", "PythonMapInArrow", "ArrowEvalPython",
                         "MapInPandas", "BatchEvalPython"})
_WRITE = frozenset({"WriteFiles", "Execute InsertIntoHadoopFsRelationCommand"})
_AGGREGATE = frozenset({"HashAggregate", "ObjectHashAggregate", "SortAggregate"})


def _events(events_dir: str):
    for root, _dirs, names in sorted(os.walk(events_dir)):
        for name in sorted(names):
            if name.startswith(("events_", "local-")) and not name.endswith(".crc"):
                with open(os.path.join(root, name)) as f:
                    for line in f:
                        yield json.loads(line)


def _walk(node):
    yield node
    for child in node["children"]:
        yield from _walk(child)


def _num(value) -> float:
    try:
        return float(value)
    except (TypeError, ValueError):
        return 0.0


class _Log:
    """The parts of an event log the layer metrics need."""

    def __init__(self, events_dir: str):
        #: accumulator id → (node name, metric name, node simpleString)
        self.acc: dict[int, tuple[str, str, str]] = {}
        self.window_execs: set[str] = set()
        self.job_time: dict[int, float] = {}
        self.job_exec: dict[int, str | None] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_accs: dict[int, dict[int, float]] = {}
        self.tasks: list[dict] = []
        for e in _events(events_dir):
            kind = e["Event"]
            if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                for node in _walk(e["sparkPlanInfo"]):
                    if node["nodeName"] == "Window":
                        self.window_execs.add(str(e["executionId"]))
                    for m in node["metrics"]:
                        self.acc[m["accumulatorId"]] = (
                            node["nodeName"], m["name"], node["simpleString"])
            elif kind == "SparkListenerJobStart":
                self.job_time[e["Job ID"]] = e["Submission Time"] / 1000
                self.job_exec[e["Job ID"]] = (e.get("Properties") or {}).get(
                    "spark.sql.execution.id")
                for sid in e["Stage IDs"]:
                    self.stage_job[sid] = e["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                m, ti = e.get("Task Metrics") or {}, e["Task Info"]
                # per-task updates: the stage-level values are running totals
                accs = self.stage_accs.setdefault(e["Stage ID"], {})
                for a in ti.get("Accumulables", []):
                    accs[a["ID"]] = accs.get(a["ID"], 0.0) + _num(a.get("Update"))
                rd = m.get("Shuffle Read Metrics", {})
                self.tasks.append({
                    "stage": e["Stage ID"],
                    "start": ti["Launch Time"] / 1000, "end": ti["Finish Time"] / 1000,
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })

    def layer(self, stage: int) -> str:
        nodes = {self.acc[a][0] for a in self.stage_accs.get(stage, ()) if a in self.acc}
        if nodes & _EXTRACTION:
            return "extraction"
        if nodes & _WRITE:
            return "catalog"
        job = self.stage_job.get(stage)
        if self.job_exec.get(job) in self.window_execs:
            return "fold"
        return "other"

    def sql_metric(self, stages, nodes, name, match=None) -> float:
        """Sum of SQL metric ``name`` of nodes named in ``nodes`` (and whose
        simpleString satisfies ``match``) over ``stages``."""
        total = 0.0
        for sid in stages:
            for acc, value in self.stage_accs.get(sid, {}).items():
                node, metric, text = self.acc.get(acc, ("", "", ""))
                if node in nodes and metric == name and (match is None or match(text)):
                    total += value
        return total


def _in(windows, t) -> bool:
    return any(a <= t <= b for a, b in windows)


_RUN_KEYS = re.compile(r"keys?=\[conv_id#\d+, run_id#\d+\]")


def _fold_aggregate(text: str) -> bool:
    """The fold's final aggregate: one output row per forward-fill run,
    i.e. grouped by exactly (conv_id, run_id), and not the partial
    (map-side) half. Column pruning may drop its functions (a ``count()``
    of the records keeps only the keys), so the keys identify it."""
    return bool(_RUN_KEYS.search(text)) and "partial_" not in text


def _uncovered(window, intervals) -> float:
    """Seconds of ``window`` that no interval covers."""
    a, b = window
    covered, cursor = 0.0, a
    for s, e in sorted(intervals):
        s, e = max(s, cursor), min(e, b)
        if e > s:
            covered += e - s
            cursor = e
    return (b - a) - covered


def analyse(events_dir: str, ctx) -> dict:
    log = _Log(events_dir)
    windows = [(t0, t1) for _name, t0, t1 in ctx.legs]
    # the interrupted+resumed legs of the pipeline; every leg elsewhere
    job_windows = [(t0, t1) for name, t0, t1 in ctx.legs
                   if not name.endswith(".rerun")] or windows
    jobs = {j for j, t in log.job_time.items() if _in(windows, t)}
    stages = {s for s, j in log.stage_job.items() if j in jobs and s in log.stage_accs}
    job_stages = {s for s in stages if _in(job_windows, log.job_time[log.stage_job[s]])}
    tasks = [t for t in log.tasks if t["stage"] in stages]
    by_layer: dict[str, set[int]] = {}
    for sid in stages:
        by_layer.setdefault(log.layer(sid), set()).add(sid)
    ext, fold = by_layer.get("extraction", set()), by_layer.get("fold", set())

    def task_sum(key, layer_stages):
        return sum(t[key] for t in tasks if t["stage"] in layer_stages)

    out = {
        "pipeline.spark_jobs": len(jobs),
        "pipeline.spark_stages": len(stages),
        "pipeline.tasks": len(tasks),
        "pipeline.no_task_s": sum(
            _uncovered(w, [(t["start"], t["end"]) for t in tasks if _in([w], t["start"])])
            for w in windows),
        "extraction.task_s": task_sum("run_s", ext),
        "extraction.cpu_s": task_sum("cpu_s", ext),
        "extraction.py_bytes_sent": log.sql_metric(ext, _EXTRACTION, "data sent to Python workers"),
        "extraction.py_bytes_received": log.sql_metric(
            ext, _EXTRACTION, "data returned from Python workers"),
        "extraction.rows": log.sql_metric(ext, _EXTRACTION, "number of output rows"),
        "fold.task_s": task_sum("run_s", fold),
        "fold.shuffle_write_bytes": task_sum("shuffle_write", fold),
        "fold.spill_bytes": task_sum("spill", fold),
        "fold.records": log.sql_metric(stages, _AGGREGATE, "number of output rows",
                                       _fold_aggregate),
        "spark.gc_s": task_sum("gc_s", stages),
        "spark.shuffle_read_bytes": task_sum("shuffle_read", stages),
    }
    rows_in, records = ctx.layer.get("pipeline.rows_in"), ctx.layer.get("pipeline.records")
    if rows_in:
        out["pipeline.extract_passes"] = log.sql_metric(
            job_stages & ext, _EXTRACTION, "number of output rows") / rows_in
    if records:
        out["pipeline.fold_passes"] = log.sql_metric(
            job_stages, _AGGREGATE, "number of output rows", _fold_aggregate) / records
    new_rows = ctx.layer.get("ingest.new_rows")
    if new_rows:
        out["ingest.refold_rows_per_row"] = log.sql_metric(
            stages, {"Scan parquet "}, "number of output rows",
            lambda text: "/wh/extracted" in text) / new_rows

    spans = ctx.tracer.within(windows)
    writes = [s for s in spans if s["name"] in ("catalog.append", "catalog.overwrite_partitions")]
    out.update({
        "catalog.append_s": sum(s["end"] - s["start"] for s in spans
                                if s["name"] == "catalog.append"),
        "catalog.append_calls": sum(s["name"] == "catalog.append" for s in spans),
        "catalog.overwrite_partitions_s": sum(
            s["end"] - s["start"] for s in spans if s["name"] == "catalog.overwrite_partitions"),
        "catalog.bytes_written": sum(s.get("bytes", 0) for s in writes),
        "catalog.files_written": sum(s.get("files", 0) for s in writes),
        "catalog.read_calls": sum(s["name"] == "catalog.read" for s in spans),
    })
    if ctx.input_bytes:
        out["catalog.bytes_written_per_input_byte"] = out["catalog.bytes_written"] / ctx.input_bytes
    return out
