"""SparkSession factory with scale-ready defaults.

Local-mode settings mirror what a 1000-executor cluster deployment would set
cluster-wide: AQE on (runtime re-plan + skew-join splitting), the Arrow batch
size of the mapInArrow extraction stage, UTC session time, shuffle partitions
sized to the parallelism rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_CPUS"]

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
    """Code-cache reserve appended to (not clobbering) env-supplied opts."""
    user = os.environ.get("SPARK_DRIVER_JAVA_OPTS", "")
    ours = "-XX:ReservedCodeCacheSize=1g"
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
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # AQE sizes broadcast candidates by COMPRESSED shuffle bytes; a
        # string-keyed relation (md5 fingerprints, terms) deserializes
        # 10-20x bigger, so a "64 MB" side can be a >1 GB in-memory
        # relation — the default 1g maxResultSize then kills the
        # broadcast collect (hit by winnow containment at 1.88M docs:
        # 1082 MiB from 11 tasks). The relation itself is fine — one
        # copy in the local JVM, and on a real cluster the driver is
        # provisioned for its broadcast duty — so raise the collect
        # ceiling rather than shrinking the threshold and losing the
        # broadcast wins everywhere else.
        .config("spark.driver.maxResultSize", "4g")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
