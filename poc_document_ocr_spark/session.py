"""SparkSession factory with scale-ready defaults.

Local-mode settings mirror what a 1000-executor cluster deployment would set
cluster-wide: AQE on (runtime re-plan + skew-join splitting), the Arrow batch
size of the mapInArrow extraction stage, UTC session time, shuffle partitions
sized to the parallelism rather than the 200 default.

The driver JVM compiles with C1 only (``-XX:TieredStopAtLevel=1``). Its
work is planning, and every action brings new generated code that runs
briefly, so C2's slow, memory-hungry compiles of that code cost more CPU than
they save. In local mode the same JVM runs the executors; on a cluster the
flag reaches only the driver, and executors keep tiered C2 for their long
data loops. Spark's codegen cache holds 1000 classes instead of 100, so a
bucket wave's generated classes stay compiled for the next wave instead of
being evicted and compiled again.

:func:`per_gateway` memoises a builder of Column expressions for the live
py4j gateway. Building one from Python costs a py4j round trip per
expression node, and the fold's expressions are thousands of nodes that do
not depend on the DataFrame they are applied to.
"""

from __future__ import annotations

import functools
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

__all__ = ["get_spark", "per_gateway", "DEFAULT_CPUS"]

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_mem() -> str:
    """SPARK_DRIVER_MEM, else ~1/4 of host RAM clamped to [2g, 32g] — big
    enough for local-mode shuffles at bench scale, small enough to launch on
    modest hosts."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        page = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        gb = max(2, min(32, int(page / (1 << 30) // 4)))
    except (ValueError, OSError):
        gb = 4
    return f"{gb}g"


def _driver_java_opts() -> str:
    """Code-cache reserve and JIT tier appended to (not clobbering)
    env-supplied opts."""
    user = os.environ.get("SPARK_DRIVER_JAVA_OPTS", "")
    # C1 only: C2 compiling the driver's generated code took about half of
    # a fresh wave's CPU
    ours = "-XX:ReservedCodeCacheSize=1g -XX:TieredStopAtLevel=1"
    return f"{user} {ours}".strip()


def get_spark(
    app_name: str = "poc_document_ocr_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # larger Arrow batches amortize JVM↔Python transfer at high task
        # concurrency: 40k raised 32-thread extraction throughput ~37%
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "40000")
        .config("spark.driver.memory", _default_driver_mem())
        # whole-stage codegen emits one class per plan shape; a long session
        # running many distinct plans fills the JVM's default 240 MB code
        # cache, after which JIT compilation stops and everything crawls —
        # reserve enough up front. Deliberately NO -XX:+UseCodeCacheFlushing:
        # measured here, flushing evicts *warm* generated methods and
        # re-executions drop to interpreted speed (6s folds became 60s on
        # random reps); a fixed 1g reserve is stable.
        .config("spark.driver.extraJavaOptions", _driver_java_opts())
        # static conf: a wave compiles more classes than the default 100
        # entries hold, so every later wave compiled them again
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def per_gateway(build):
    """``build()``'s result, built once per live py4j gateway.

    For builders of Column expressions that do not depend on their input:
    such a Column is a JVM object owned by the gateway that made it, not by a
    session, so every DataFrame and session on that gateway can reuse it. A
    new gateway (a new driver JVM in this process) builds it again; the
    previous result is dropped with it. ``build`` needs an active
    SparkContext, as every ``pyspark.sql.functions`` call does.
    """

    @functools.lru_cache(maxsize=1)
    def cached(gateway):
        return build()

    @functools.wraps(build)
    def get():
        return cached(SparkContext._gateway)

    return get
