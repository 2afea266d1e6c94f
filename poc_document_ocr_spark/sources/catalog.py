"""Catalog adapter: same logical semantics over parquet dirs or Iceberg.

Reference analog: blob + Cosmos I/O services (``BlobStorageService.cs``,
``CosmosDbService.cs``). In production the pipeline reads/writes Iceberg
tables (snapshot-committed, partition-pruned); this sandbox has no Iceberg
jars (verified), so the adapter speaks parquet directories with identical
logical behavior:

* ``read(name)``      — full-scan with pushdown-friendly plain reads
  (optionally by a given schema)
* ``write(df, name)`` — idempotent overwrite (blob ``overwrite:true`` analog)
* ``append(df, name)``— append a DataFrame
* dynamic-partition overwrite for per-partition idempotent re-runs
  (Iceberg ``overwritePartitions()`` analog)
* ``append_rows``/``read_rows`` — the control plane's small append and
  read (lineage), on the driver with pyarrow, no Spark job (pyiceberg
  ``Table.append(pa.Table)`` analog).

At 100 TB the production table is partitioned ``bucket(N, conv_id)`` (plus
``days(ts)`` if time-scoped); the bucket column written here mirrors that so
file layout and pruning behave the same way.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

__all__ = ["Catalog", "conv_bucket"]


def conv_bucket(n_buckets: int) -> Column:
    """The one hash bucket of a conversation: ``pmod(xxhash64(conv_id), n)``.

    Batch waves, the streaming sink's touched buckets and
    :meth:`Catalog.write_bucketed` partitions all use it, so a bucket id
    means the same conversations in every table."""
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


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

    def append_rows(
        self, rows: list[tuple], name: str, schema: StructType
    ) -> None:
        """One parquet file of driver-side rows, written under a ``.tmp-``
        name that Spark's and Arrow's listings skip, then renamed into
        place (``os.replace``): a reader sees all of it or none of it."""
        p, file_id = self.path(name), uuid.uuid4().hex
        os.makedirs(p, exist_ok=True)
        tmp = os.path.join(p, f".tmp-{file_id}.parquet")
        table = [dict(zip(schema.names, r)) for r in rows]
        pq.write_table(
            pa.Table.from_pylist(table, schema=to_arrow_schema(schema)), tmp
        )
        os.replace(tmp, os.path.join(p, f"part-{file_id}.parquet"))

    def read_rows(
        self, name: str, schema: StructType, columns: list[str]
    ) -> list[dict]:
        """``columns`` of a small table's rows, read on the driver from the
        data files of either writer (``.``/``_``-prefixed entries skipped)."""
        if not self.exists(name):
            return []
        arrow = to_arrow_schema(StructType([schema[c] for c in columns]))
        return ds.dataset(self.path(name), schema=arrow).to_table().to_pylist()

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

    def write_bucketed(self, df: DataFrame, name: str, buckets: int) -> None:
        """Overwrite partitioned by :func:`conv_bucket`.

        Iceberg analog: ``PARTITIONED BY (bucket(N, conv_id))`` with
        ``overwritePartitions()`` — co-locates a conversation's records and
        makes per-partition re-runs idempotent. Spark's dynamic partition
        overwrite replaces only the buckets present in ``df``.
        """
        self.overwrite_partitions(
            df.withColumn("bucket", conv_bucket(buckets)), name, "bucket"
        )
