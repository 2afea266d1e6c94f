"""Incremental ingest as Structured Streaming.

The reference's queue trigger (``PdfProcessorFunction.cs:54-57``) delivers
at-least-once batch dispatch; its idempotency comes from overwrite-true
writes and the duplicate-skip anti-join, not from stream state (SURVEY
§2.9). :func:`stream_consolidate_to_catalog` is the one streaming job, and
it keeps that shape honest:

* **Extraction streams.** Per-turn extraction is stateless and turn-local,
  so it runs safely under any micro-batch boundary: new transcript files →
  the same Arrow map pass as the batch job (``extract_turns``), with the
  checkpoint giving exactly-once file tracking. Each batch lands its turns
  with a dynamic partition overwrite, so an at-least-once replay replaces
  rather than duplicates (the batch job's waves land the same way).
* **Consolidation is incremental view maintenance.** The fold is
  conversation-grain and a micro-batch boundary can split a conversation,
  so per-batch folding would silently produce partial documents. Instead
  each batch recomputes KEY-SCOPED: it re-folds only the conv-hash buckets
  it touched, over those buckets' COMPLETE accumulated turn history, and
  dynamic-overwrites the same buckets of the records table — after any
  drain the records table equals the batch pipeline's output (pinned by
  ``tests/test_streaming.py``).

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
    """The streaming job: extraction and incremental CONSOLIDATION. A
    micro-batch boundary can split a conversation, so the fold is not
    per-batch but KEY-SCOPED recomputation, the standard
    incremental-materialized-view shape:

    per micro-batch —

    1. land the batch's extracted turns with a dynamic partition overwrite
       of ``(run_id, batch_id, bucket(conv_id))``: a replayed batch replaces
       its partial partitions instead of appending duplicates, and
       ``run_id`` keeps a fresh checkpoint's restarted batch numbering from
       overwriting an earlier run; the bucket dimension lets step 2 prune;
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
    # by the written schema: an empty first batch leaves a table with no
    # data file, which then reads as empty instead of failing inference
    table = catalog.read(extracted_table, schema=landed.schema)
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
