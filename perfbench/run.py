"""The transcript-pipeline benchmark of record.

    python3 perfbench/run.py --workload {extract,pipeline,ingest} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a repository checkout. Generates the workload's input
from ``--seed`` (cached under ``perfbench/.cache``), starts local Spark on
every core through ``session.get_spark``, sets up and times the workload
for ``--seconds``, checks the outputs against the generator's goldens and
a one-shot reference, and prints a human-readable report followed by one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``. The metrics
are the ``end_to_end`` ones of ``BENCHMARK.json`` with ``--trace 0`` and
its ``per_layer`` ones with ``--trace 1`` (event log, spans and catalog
timing on; spans go to ``perfbench/results``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _environment(spark, cores: int, steal: float) -> dict:
    conf = spark.conf
    return {
        "nproc": cores,
        "master": spark.sparkContext.master,
        "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.execution.arrow.maxRecordsPerBatch":
            conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
        "spark.sql.files.maxPartitionBytes":
            conf.get("spark.sql.files.maxPartitionBytes"),
        "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "spark_version": spark.version,
        "python": sys.version.split()[0],
        "steal_share": round(steal, 4),
    }


def run(workload: str, seed: int, seconds: float, trace: bool,
        size: str = "full", extract_fn=None) -> dict:
    """One benchmark run in this process; returns the result record."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from scripts._bench_common import steal_sample

    from perfbench import eventlog, procs, stats
    from perfbench.harness import Ctx, start_spark
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    module = WORKLOADS[workload]
    work = os.path.join(BENCH, ".work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep the JVM's and the Python workers' scratch files in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
    cores = len(os.sched_getaffinity(0))
    run_id = f"{workload}-s{seed}-t{int(trace)}-{int(time.time())}"
    tracer = Tracer(run_id, enabled=trace)

    procs.adopt_orphans()
    rss = stats.RssSampler().start()
    steal0 = steal_sample()
    try:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = start_spark(work, cores, trace)
        session_s = time.perf_counter() - t0
        try:
            ctx = Ctx(spark=spark, seed=seed, seconds=seconds, trace=trace,
                      size=module.SIZES[size], work=work,
                      cache=os.path.join(BENCH, ".cache"), cores=cores,
                      tracer=tracer, extract_fn=extract_fn)
            e2e = module.run(ctx)
            s1, j1 = steal_sample()
            env = _environment(spark, cores,
                               (s1 - steal0[0]) / max(j1 - steal0[1], 1))
        finally:
            spark.stop()
    finally:
        peak_mb = rss.stop()
        procs.end_all()
    e2e["setup_s"] += session_s
    e2e["peak_rss_mb"] = peak_mb

    spec = _spec()
    if trace:
        layer = dict(ctx.layer)
        layer["session.start_s"] = session_s
        layer.update(eventlog.analyse(os.path.join(work, "events"), ctx))
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    record = {"run_id": run_id, "workload": workload, "seed": seed,
              "seconds": seconds, "trace": trace, "size": size,
              "environment": env, "result": result,
              "end_to_end": e2e, "report": ctx.report,
              "layer": layer if trace else {},
              "failures": ctx.failures}
    out_dir = os.path.join(BENCH, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{workload}-{size}-s{seed}")
    if trace:
        record["tracing_overhead"] = _overhead(stem + "-t0.json", e2e)
        with open(stem + "-spans.json", "w") as f:
            json.dump(tracer.spans, f)
    with open(stem + f"-t{int(trace)}.json", "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    return record


def _overhead(untraced_path: str, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end figures of the same workload and
    seed, when an untraced run of it has been recorded."""
    try:
        with open(untraced_path) as f:
            base = json.load(f)["end_to_end"]
    except (OSError, ValueError, KeyError):
        return None
    return {k: traced[k] - base[k] for k in traced if k in base}


#: every figure a workload's ``run`` returns; the ``end_to_end`` metrics of
#: BENCHMARK.json are the ones steady enough to bound, the wall-clock rest
#: is reported for reading
_UNITS = {"setup_s": "s", "cpu_ms_per_turn": "ms", "peak_rss_mb": "MB",
          "turns_per_s": "turns/s", "latency_p50_ms": "ms", "latency_tail_ms": "ms"}


def _print_report(record: dict) -> None:
    res = record["result"]
    print(f"perfbench {record['workload']} seed={record['seed']} "
          f"seconds={record['seconds']} trace={int(record['trace'])}")
    print("environment " + json.dumps(record["environment"], sort_keys=True))
    figures = dict(record["report"])
    for name, value in record["end_to_end"].items():
        figures[name] = (value, _UNITS[name])
    figures["fail_ratio"] = (res["failed"] / max(res["attempted"], 1), "ratio")
    for name, (value, unit) in figures.items():
        shown = f"{value:.4f}" if isinstance(value, (int, float)) else value
        print(f"  {name:<30} {shown:>16} {unit}")
    if record["trace"]:
        for name, value in sorted(record["layer"].items()):
            print(f"  {name:<40} {value:>18.4f}")
        print("tracing_overhead " + json.dumps(record.get("tracing_overhead")))
    for failure in record["failures"]:
        print(f"  FAILED {failure}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract", "pipeline", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a seconds-long smoke of the same code paths")
    args = ap.parse_args(argv)
    # a terminated run unwinds, so its Spark processes are stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "poc_document_ocr_spark")):
        print(f"perfbench: no poc_document_ocr_spark package in {ROOT}; "
              "run from the root of a repository checkout", file=sys.stderr)
        return 2
    record = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 args.size)
    _print_report(record)
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT  # import perfbench as a package, not its files as modules
    sys.exit(main())
