"""Run context shared by the workloads: Spark session, setup timing, leg
windows, failure tally and the optional tracing hooks."""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from dataclasses import dataclass, field

from . import procs
from .tracing import TimedCatalog, Tracer

__all__ = ["Ctx", "start_spark", "SETUP_REPS"]

#: Setup is repeated this many times per run and its median reported.
SETUP_REPS = 3


def start_spark(work: str, cores: int, trace: bool):
    """``local[cores]`` through the program's own ``session.get_spark``;
    every scratch path the JVM and its Python workers use is kept inside
    ``work``. Traced runs also write a Spark event log there."""
    from poc_document_ocr_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
    return get_spark("perfbench", cpus=cores, shuffle_partitions=cores,
                     extra_conf=conf)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    size: dict
    work: str
    cache: str
    cores: int
    tracer: Tracer
    #: per-payload extractor handed to the program (None = its default);
    #: the planted-fault test swaps in a corrupting one
    extract_fn: object = None
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    #: figures printed in the human-readable report, by name → (value, unit)
    report: dict = field(default_factory=dict)
    #: per-layer metrics measured in-process (the event log adds the rest)
    layer: dict = field(default_factory=dict)
    #: (job group, wall start, wall end) of every timed leg
    legs: list = field(default_factory=list)
    #: job group → CPU seconds the leg cost: the Spark JVM, its Python
    #: workers and this process's main thread, which runs the driver code
    cpu: dict = field(default_factory=dict)
    #: bytes of input the timed legs consume (base of the write ratio)
    input_bytes: int = 0

    def tally(self, what: str, attempted: int, failed: int) -> None:
        """Count ``attempted`` operations of which ``failed`` went wrong."""
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.failures.append(f"{what}: {failed}/{attempted}")

    def corpus(self, name: str):
        """The workload's cached corpus; traced runs also time the
        generator (``datagen.gen_s``), on a cache hit by generating anew."""
        from . import corpus

        c, gen_s = corpus.load(self.cache, name, self.size["n_convs"], self.seed)
        if self.trace:
            if gen_s is None:
                from poc_document_ocr_spark.sources.datagen import generate

                t0 = time.perf_counter()
                generate(n_convs=self.size["n_convs"], seed=self.seed)
                gen_s = time.perf_counter() - t0
            self.layer["datagen.gen_s"] = gen_s
        return c

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def catalog(self, root: str):
        from poc_document_ocr_spark.sources.catalog import Catalog

        cat = Catalog(self.spark, root)
        return TimedCatalog(cat, self.tracer) if self.trace else cat

    def timed_setup(self, prepare, warm):
        """Set-up time: the median of :data:`SETUP_REPS` runs of
        ``prepare(rep_dir)`` (materialising the input, each in a fresh
        directory) plus one run of ``warm(prepared)`` on the last rep's
        result (starting workers and queries, which happens once per
        session). Returns (seconds, what ``warm`` returned)."""
        times = []
        for rep in range(SETUP_REPS):
            rep_dir = self.path(f"setup{rep}")
            with self.tracer.span("setup.materialise", rep=rep):
                t0 = time.perf_counter()
                prepared = prepare(rep_dir)
                times.append(time.perf_counter() - t0)
        with self.tracer.span("setup.warm"):
            t0 = time.perf_counter()
            state = warm(prepared)
            warm_s = time.perf_counter() - t0
        return statistics.median(times) + warm_s, state

    @contextlib.contextmanager
    def leg(self, name: str):
        """A timed leg: its own Spark job group, a span, a recorded wall
        window the event-log analysis attributes tasks to, and its CPU
        cost."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        c0 = procs.cpu_seconds() + time.thread_time()
        t0 = time.time()
        try:
            with self.tracer.span(name):
                yield
        finally:
            self.legs.append((name, t0, time.time()))
            self.cpu[name] = procs.cpu_seconds() + time.thread_time() - c0
            sc.setLocalProperty("spark.jobGroup.id", None)
