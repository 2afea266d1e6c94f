"""Catalog adapter: same logical semantics over parquet dirs or Iceberg.

Reference analog: blob + Cosmos I/O services (``BlobStorageService.cs``,
``CosmosDbService.cs``). In production the pipeline reads/writes Iceberg
tables (snapshot-committed, partition-pruned); this sandbox has no Iceberg
jars (verified), so the adapter speaks parquet directories with identical
logical behavior:

* ``read(name)``      — full-scan with pushdown-friendly plain reads
  (optionally by a given schema)
* ``write(df, name)`` — idempotent overwrite (blob ``overwrite:true`` analog)
* ``append(df, name)``— lineage-style append
* dynamic-partition overwrite for per-partition idempotent re-runs
  (Iceberg ``overwritePartitions()`` analog).

At 100 TB the production table is partitioned ``bucket(N, conv_id)`` (plus
``days(ts)`` if time-scoped); the bucket column written here mirrors that so
file layout and pruning behave the same way.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["Catalog", "conv_bucket"]


def conv_bucket(n_buckets: int, key: str = "conv_id") -> Column:
    """The one hash bucket of a conversation: ``pmod(xxhash64(key), n)``.

    Batch waves, the streaming sink's touched buckets and
    :meth:`Catalog.write_bucketed` partitions all use it, so a bucket id
    means the same conversations in every table."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return os.path.exists(self.path(name))

    def read(self, name: str, schema: StructType | None = None) -> DataFrame:
        """Scan a table; with ``schema``, nothing is inferred from its files
        (partition columns included), so a table with no data file reads
        as empty."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.path(name))

    def write_overwrite(self, df: DataFrame, name: str) -> None:
        """Full idempotent overwrite (blob overwrite:true analog)."""
        df.write.mode("overwrite").parquet(self.path(name))

    def append(self, df: DataFrame, name: str) -> None:
        df.write.mode("append").parquet(self.path(name))

    def overwrite_partitions(
        self, df: DataFrame, name: str, part_col: str | tuple[str, ...]
    ) -> None:
        """Idempotent per-partition write: replaces only the ``part_col``
        values present in ``df`` (dynamic partition overwrite — Iceberg
        ``overwritePartitions()`` analog). The write that makes an
        at-least-once replay safe: re-writing the same partition value
        overwrites the earlier partial attempt instead of appending.
        Accepts a single column or a tuple for composite partitioning
        (e.g. ``(run_id, batch_id)``)."""
        cols = [part_col] if isinstance(part_col, str) else list(part_col)
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*cols)
            .parquet(self.path(name))
        )

    def bucket_values(self, name: str) -> list[int]:
        """Physical ``bucket=k`` partition values of a bucketed table
        (empty when the table is not bucket-partitioned). Filesystem
        listing only — no scan (Iceberg analog: partition metadata)."""
        p = self.path(name)
        if not os.path.isdir(p):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(p)
            if d.startswith("bucket=")
        )

    def compact(self, name: str) -> dict:
        """Small-file compaction: rewrite every leaf partition of a table
        into ONE file, content-identical (Iceberg analog:
        ``rewrite_data_files`` / bin-pack maintenance).

        Why it exists: the incremental streaming sink lands one partition
        per ``(run_id, batch_id, bucket)`` — correct and replay-safe, but a
        long-running ingest accumulates thousands of small files per bucket
        and scan task-scheduling overhead starts to dominate (the classic
        small-file problem at 100 TB). Compaction is the offline
        maintenance pass that restores fat scan splits.

        Implementation: one job writes the compacted copy to a temp
        sibling directory — read the table, hash-repartition on the
        physical partition columns (each leaf partition's rows land in one
        task, so each directory is rewritten as one file; hash collisions
        merge tasks, never split directories) — then the table flips to
        the new copy by rename. Iceberg analog: ``rewrite_data_files``
        commits a NEW snapshot and never mutates live files; the rename
        pair is this adapter's snapshot flip. Every crash window is
        recoverable and recovery runs automatically on entry: a leftover
        ``__compact_tmp`` (died mid-write) is discarded; a leftover
        ``__compact_old`` WITH the table present (died before cleanup) is
        discarded; ``__compact_old`` with the table ABSENT (died between
        the two renames) is renamed back — so the table is never left
        half-compacted or missing past the next call/read.
        Returns ``{"files_before": n, "files_after": m}``.
        """
        import shutil

        path = self.path(name)
        old = path.rstrip("/") + "__compact_old"
        tmp = path.rstrip("/") + "__compact_tmp"
        # crash recovery from a previous compaction attempt
        if os.path.exists(old) and not os.path.exists(path):
            os.rename(old, path)  # died between the two renames
        if os.path.exists(old):
            shutil.rmtree(old)  # died before cleanup; new table is live
        if os.path.exists(tmp):
            shutil.rmtree(tmp)  # died mid-write; tmp is incomplete

        def data_files(p: str) -> list[str]:
            out = []
            for root, _dirs, files in os.walk(p):
                out += [
                    os.path.join(root, f)
                    for f in files
                    if f.endswith(".parquet")
                ]
            return out

        before = len(data_files(path))
        df = self.spark.read.parquet(path)
        # physical partition columns = the directory levels (key=value)
        parts = []
        probe = data_files(path)[0] if before else ""
        for seg in os.path.relpath(probe, path).split(os.sep)[:-1]:
            if "=" in seg:
                parts.append(seg.split("=", 1)[0])
        if parts:
            n_parts = max(df.select(*parts).distinct().count(), 1)
            (
                df.repartition(n_parts, *[F.col(c) for c in parts])
                .write.mode("overwrite")
                .partitionBy(*parts)
                .parquet(tmp)
            )
        else:
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
        return {"files_before": before, "files_after": len(data_files(path))}

    def write_bucketed(
        self, df: DataFrame, name: str, key: str = "conv_id", buckets: int = 32
    ) -> None:
        """Overwrite partitioned by a hash bucket of the key.

        Iceberg analog: ``PARTITIONED BY (bucket(N, conv_id))`` with
        ``overwritePartitions()`` — co-locates a conversation's records and
        makes per-partition re-runs idempotent. Spark's dynamic partition
        overwrite replaces only the buckets present in ``df``.
        """
        self.overwrite_partitions(
            df.withColumn("bucket", conv_bucket(buckets, key)), name, "bucket"
        )
