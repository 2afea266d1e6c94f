"""Incremental ingest as Structured Streaming.

The reference's queue trigger (``PdfProcessorFunction.cs:54-57``) delivers
at-least-once batch dispatch; its idempotency comes from overwrite-true
writes and the duplicate-skip anti-join, not from stream state (SURVEY
§2.9). The streaming rebuild keeps that shape honest:

* **Extraction streams.** Per-turn extraction is stateless and turn-local,
  so it runs safely under any micro-batch boundary: new transcript files →
  the same Arrow map pass as the batch job (``extract_turns``) → append
  sink, with the checkpoint giving exactly-once file tracking. This is the
  expensive stage, and the one worth running incrementally at 100 TB/day
  arrival rates.
* **Consolidation is incremental view maintenance.** The fold is
  conversation-grain and a micro-batch boundary can split a conversation,
  so per-batch folding would silently produce partial documents. Instead
  :func:`stream_consolidate_to_catalog` recomputes KEY-SCOPED: each batch
  re-folds only the conv-hash buckets it touched, over those buckets'
  COMPLETE accumulated turn history, and dynamic-overwrites the same
  buckets of the records table — after any drain the records table equals
  the batch pipeline's output (pinned by ``tests/test_streaming.py``).

``Trigger(availableNow=True)`` drains everything present then stops — the
"process the backlog as one resumable job" mode used by the tests; drop it
for a continuously running ingest.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.extraction import extract_turns
from ..schema import TRANSCRIPT_SCHEMA
from ..sources.catalog import conv_bucket

__all__ = [
    "stream_extract",
    "stream_extract_to_catalog",
    "stream_consolidate_to_catalog",
    "consolidate_batch_sink",
]


def _source(spark: SparkSession, input_path: str, max_files: int | None):
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files is not None:
        # bound per-micro-batch work so one giant backlog file drop cannot
        # produce an unboundedly large batch (cluster-size-independent knob)
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    return reader.parquet(input_path)


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    max_files: int | None = None,
) -> StreamingQuery:
    """File-source stream → per-turn extraction → parquet append sink.

    The checkpoint tracks processed input files: a restart resumes with
    already-extracted files skipped (the streaming analog of the lineage
    anti-join resume in ``plans.pipeline``).
    """
    extracted = extract_turns(_source(spark, input_path, max_files))
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract_to_catalog(
    spark: SparkSession,
    catalog,
    input_path: str,
    extracted_table: str,
    checkpoint_path: str,
    run_id: str,
    available_now: bool = True,
    max_files: int | None = None,
) -> StreamingQuery:
    """foreachBatch variant: per-batch write through the Catalog with the
    run-correlation stamp (reference: ``cosmosEntity.OperationId``), for
    sinks the file sink can't express (Iceberg MERGE, lineage rows).

    foreachBatch delivery is at-least-once: a micro-batch that fails after a
    partial write but before the checkpoint commit is REPLAYED with the same
    ``batch_id``. The sink is made idempotent by giving each batch its own
    ``run_id=<r>/batch_id=<k>`` partition written with dynamic partition
    overwrite — a replay replaces the partial partition instead of appending
    duplicates (Iceberg analog: ``overwritePartitions()``; same shape as the
    reference's overwrite-true blob writes, SURVEY §2.9). Partitioning on
    ``(run_id, batch_id)`` rather than ``batch_id`` alone matters: a later
    run started with a FRESH checkpoint restarts batch numbering at 0, and a
    batch_id-only layout would silently overwrite the earlier run's
    partitions in the same table (round-3 ADVICE finding)."""
    extracted = extract_turns(_source(spark, input_path, max_files))

    def sink(batch_df, batch_id: int) -> None:
        catalog.overwrite_partitions(
            batch_df.withColumn("run_id", F.lit(run_id)).withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            ),
            extracted_table,
            part_col=("run_id", "batch_id"),
        )

    writer = (
        extracted.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_consolidate_to_catalog(
    spark: SparkSession,
    catalog,
    input_path: str,
    extracted_table: str,
    records_table: str,
    checkpoint_path: str,
    run_id: str,
    available_now: bool = True,
    max_files: int | None = None,
    buckets: int = 32,
) -> StreamingQuery:
    """Incremental CONSOLIDATION — the view-maintenance step this module's
    docstring previously scoped out ('consolidation stays batch'). The
    reason it had to stay batch is that a micro-batch boundary can split a
    conversation; the fix is not per-batch folding but KEY-SCOPED
    recomputation, the standard incremental-materialized-view shape:

    per micro-batch —

    1. land the batch's extracted turns idempotently, partitioned by
       ``(run_id, batch_id, bucket(conv_id))`` — replay-safe exactly like
       :func:`stream_extract_to_catalog`, with the bucket dimension added
       so step 2 can prune;
    2. re-read ONLY the conv-hash buckets the batch touched (a partition
       filter — at 100 TB this reads the affected slice, never the table)
       across ALL runs/batches, so a conversation split over any number of
       micro-batches is folded over its COMPLETE turn set every time;
    3. re-fold those buckets through the exact batch ``consolidate_stage``
       and dynamic-overwrite the same buckets of the records table.

    Idempotency: every write is a deterministic function of the extracted
    table's content, and both writes are dynamic partition overwrites — an
    at-least-once foreachBatch replay converges to the same bytes. No
    driver-side key sets: the only collected value is the batch's distinct
    bucket ids (≤ ``buckets``, a bounded job arg). After a drain the
    records table EQUALS the batch pipeline's output over the same input.
    """
    extracted = extract_turns(_source(spark, input_path, max_files))

    def sink(batch_df, batch_id: int) -> None:
        consolidate_batch_sink(
            catalog, batch_df, batch_id, extracted_table, records_table,
            run_id, buckets=buckets,
        )

    writer = (
        extracted.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def consolidate_batch_sink(
    catalog,
    batch_df,
    batch_id: int,
    extracted_table: str,
    records_table: str,
    run_id: str,
    buckets: int = 32,
) -> None:
    """One micro-batch of the incremental consolidation (module-level so
    the crash/replay fault-injection test can drive it directly —
    foreachBatch may invoke this AGAIN with the same ``batch_id`` after a
    mid-sink failure, and both writes must converge).

    ``batch_df`` is read by exactly one action, the landing write: the
    touched buckets come from the partition just landed, so an extraction
    pass upstream runs once per turn."""
    from ..plans.pipeline import consolidate_stage

    landed = (
        batch_df.withColumn("run_id", F.lit(run_id))
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
        .withColumn("bucket", conv_bucket(buckets))
    )
    catalog.overwrite_partitions(
        landed, extracted_table, part_col=("run_id", "batch_id", "bucket")
    )
    table = catalog.read(extracted_table)
    touched = [
        r["bucket"]
        for r in table.filter(
            (F.col("run_id") == run_id) & (F.col("batch_id") == batch_id)
        )
        .select("bucket")
        .distinct()
        .collect()
    ]
    if not touched:
        return
    scope = table.filter(F.col("bucket").isin(*touched))
    # turn-grain first-wins dedup across runs (FR-019 transposed to the
    # ingest layer): a later run started with a FRESH checkpoint re-lands
    # the same turns under a new run_id — without this, the bucket re-fold
    # would double-count every re-ingested turn (turn_count, provenance,
    # multi-value concats all duplicate). The first (run_id, batch_id) to
    # land a (conv_id, turn_idx) wins, deterministically at any
    # parallelism; the window runs inside the pruned buckets only.
    from pyspark.sql import Window as W

    w = W.partitionBy("conv_id", "turn_idx").orderBy(
        "run_id", "batch_id"
    )
    scope = (
        scope.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    records = consolidate_stage(
        scope.drop("run_id", "batch_id", "bucket")
    ).withColumn("bucket", conv_bucket(buckets))
    catalog.overwrite_partitions(records, records_table, part_col="bucket")
