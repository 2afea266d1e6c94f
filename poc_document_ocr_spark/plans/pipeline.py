"""The batch pipeline: transcripts → extraction → fold → consolidated records.

Rebuild of the reference's entry point A (SURVEY.md §3.1,
``PdfProcessorFunction.Run`` → decode → OCR loop → aggregate → fold →
persist → checkpoint), as a Spark batch job:

    read → turn-range filter (BEFORE the Python barrier) → Arrow map
    extraction → land the bucket's extracted turns → read them back → field
    contributions → forward-fill runs → consolidation fold → duplicate-skip
    anti-join → append output → lineage row per bucket

Checkpoint/resume model (north rule): work is split into ``n_buckets`` hash
buckets of ``conv_id`` (production: Iceberg ``bucket(N, conv_id)`` partitions,
so each wave's scan prunes to its bucket — no full rescans). A lineage row is
committed per bucket as one driver-side file, no Spark job; a re-run with
the same ``run_id`` skips completed buckets and processes only the
remainder. A bucket that died before its lineage commit is redone exactly,
whatever write it died after:

* its extracted turns land with a dynamic partition overwrite of
  ``(run_id, bucket)`` (Iceberg ``overwritePartitions()``, the reference's
  ``overwrite:true`` blob writes), so the redo replaces them;
* its records pass the duplicate-skip anti-join (FR-019,
  ``PdfProcessorFunction.cs:261-277``), so records already appended are
  skipped.

Skew: extraction is turn-local, so the extraction stage runs under the scan's
partitioning — a million-turn conversation does NOT serialize into one task.
Conversations regroup only for the (cheap) fold shuffle, with AQE skew
handling enabled in the session.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregation import consolidate, with_runs
from ..operators.extraction import extract_turns
from ..operators.fields import best_extracted_id, contributions_array
from ..functions.selection import TurnSelection
from ..schema import LINEAGE_SCHEMA
from ..session import per_gateway
from ..sources.catalog import Catalog, conv_bucket

__all__ = [
    "PipelineConfig",
    "run_pipeline",
    "extract_stage",
    "consolidate_stage",
    "dedup_against_existing",
]

_BUCKET = "part_bucket"


@dataclass
class PipelineConfig:
    input_table: str = "transcripts"
    output_table: str = "consolidated"
    extracted_table: str = "extracted_turns"
    lineage_table: str = "lineage"
    run_id: str = "run-0"
    turn_range: str | None = None
    n_buckets: int = 8
    #: injectable clock (driver-side only; executors never see wall time)
    clock: object = field(default=lambda: datetime.now(timezone.utc))
    #: cancel sentinel, polled between bucket waves (reference: the
    #: CancelRequested poll between units of work,
    #: ``PdfProcessorFunction.cs:84-92,323-338``; ``OperationService.cs:128-152``).
    #: Returns True → the run stops before the next wave, writes a
    #: status='Cancelled' lineage row for that bucket, and leaves the rest
    #: untouched; a later run with the same run_id resumes them.
    cancel_check: object = None
    #: injectable per-payload extractor (None → functions.dispatch.extract);
    #: also the fault-injection seam for testing error isolation
    extract_fn: object = None


def extract_stage(
    turns: DataFrame,
    turn_range: str | None = None,
    extract_fn=None,
) -> DataFrame:
    """Selection filter (pushed before the Python barrier) + extraction.

    The turn-range filter sits BEFORE the Arrow map extraction pass
    (:func:`..operators.extraction.extract_turns`) in the plan — excluded
    turns never reach the expensive stage (reference FR-009 dispose-before-OCR,
    ``PdfProcessorFunction.cs:311-318``; SC-003 ≥80% cost cut).

    Shuffle-free: extraction is turn-local and runs under the scan's
    partitioning (size input splits via
    ``spark.sql.files.maxPartitionBytes``).
    """
    sel = TurnSelection.parse(turn_range)
    if not sel.is_all:
        turns = turns.filter(F.col("turn_idx").isin(*sel.turns))
    return extract_turns(turns, extract_fn=extract_fn)


def consolidate_stage(extracted: DataFrame) -> DataFrame:
    """Extracted turns → forward-fill runs → folded consolidated records.

    The per-turn field contributions and identifier are column expressions
    over ``extracted_text`` (``operators.fields``), so the extracted table
    is read once with no intermediate persists; runs are one window pass
    (``with_runs``); :func:`..operators.aggregation.consolidate` folds each
    document with streaming per-field aggregates, so one million-field
    conversation cannot OOM a task.

    Every Column expression of the fold is built once per py4j gateway, so
    a warm build makes only its DataFrame ops.
    """
    turn, extracted_id = _turn_columns()
    return consolidate(
        with_runs(
            extracted.select(*turn).withColumn("extracted_id", extracted_id)
        )
    )


@per_gateway
def _turn_columns():
    """``consolidate_stage``'s turn projection, and its extracted id."""
    turn = [
        F.col("conv_id"),
        F.col("turn_idx"),
        contributions_array("extracted_text").alias("contribs"),
    ]
    return turn, best_extracted_id(F.col("contribs"))


def _dedup_within_batch(records: DataFrame) -> DataFrame:
    """Keep the first document per doc_key in (conv_id, run_id) order.

    Reference FR-019 processes documents sequentially and skips an identifier
    already persisted — within one batch the first occurrence wins.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_key").orderBy("conv_id", "run_id")
    return (
        records.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_against_existing(records: DataFrame, existing: DataFrame) -> DataFrame:
    """FR-019 duplicate-skip anti-join vs already-persisted identifiers
    (``PdfProcessorFunction.cs:261-277``), with the two properties that
    matter at 100 TB:

    * **no forced broadcast**: the existing-keys side grows with every
      completed run (billions of keys at scale) — AQE picks broadcast while
      it is small and falls back to a shuffle join once it isn't;
    * **stable column order**: Spark moves the string join key to column 1;
      the re-projection restores ``records``' order so every append batch
      has an identical schema (a position-based append on a real warehouse
      would otherwise corrupt or reject).
    """
    return records.join(
        existing.select("doc_key"), "doc_key", "left_anti"
    ).select(*records.columns)


def run_pipeline(
    spark: SparkSession, catalog: Catalog, cfg: PipelineConfig
) -> dict:
    """Run (or resume) the pipeline; returns a summary dict.

    One wave per remaining bucket: extract once into the bucket's
    ``(run_id, bucket)`` partition of the extracted table → fold that
    partition → append the records not yet in the output → commit lineage.
    A killed run skips the buckets its lineage holds as Succeeded; a bucket
    that died mid-wave re-lands its partition and its records are
    duplicate-skipped. A wave's Spark jobs are its data work: the extracted
    overwrite, the rule-hit count, one records count and the append. The
    lineage commit and the resume read run on the driver
    (``Catalog.append_rows``/``read_rows``), no Spark job.
    """
    raw = catalog.read(cfg.input_table)
    phys_buckets = catalog.bucket_values(cfg.input_table)
    if phys_buckets and "bucket" in raw.columns:
        # physically bucketed input (Catalog.write_bucketed — Iceberg
        # bucket(N, conv_id) analog): the per-wave filter below is PARTITION
        # PRUNING — bucket k's files are simply not read on other waves, and
        # a resume reads zero bytes of completed buckets. The physical
        # layout defines the wave list; cfg.n_buckets is ignored.
        turns = raw.withColumnRenamed("bucket", _BUCKET)
        bucket_ids = phys_buckets
    else:
        # unbucketed input: bucket is a computed column, so every wave scans
        # the full input — correct but O(n_buckets) scans; bucket the input
        # with Catalog.write_bucketed for large runs
        turns = raw.withColumn(_BUCKET, conv_bucket(cfg.n_buckets))
        bucket_ids = list(range(cfg.n_buckets))

    # the files of either lineage writer, read on the driver
    completed = {
        r["partition_id"]
        for r in catalog.read_rows(
            cfg.lineage_table, LINEAGE_SCHEMA,
            ["run_id", "partition_id", "status"],
        )
        if r["run_id"] == cfg.run_id and r["status"] == "Succeeded"
    }

    summary = {"run_id": cfg.run_id, "buckets": [], "skipped_duplicates": 0}
    for k in bucket_ids:
        if k in completed:
            summary["buckets"].append({"partition_id": k, "status": "Resumed"})
            continue
        # cancel poll between waves (reference: CancelRequested between units
        # of work, PdfProcessorFunction.cs:84-92). Buckets after this one are
        # left untouched; a resume with the same run_id completes them (only
        # status='Succeeded' counts as done).
        if callable(cfg.cancel_check) and cfg.cancel_check():
            _commit_lineage(catalog, cfg, k, 0, 0, {}, 0, "Cancelled")
            summary["buckets"].append(
                {"partition_id": k, "status": "Cancelled"}
            )
            summary["cancelled"] = True
            break
        t0 = time.monotonic()
        bucket_turns = turns.filter(F.col(_BUCKET) == k).drop(_BUCKET)
        try:
            extracted = extract_stage(
                bucket_turns, cfg.turn_range, extract_fn=cfg.extract_fn,
            ).withColumn("run_id", F.lit(cfg.run_id)).withColumn(
                "bucket", F.lit(k)
            )
            # the wave's one extraction pass; a retried wave replaces its
            # partition instead of appending a second copy
            catalog.overwrite_partitions(
                extracted, cfg.extracted_table, part_col=("run_id", "bucket")
            )
            # the fold reads what landed (a partition-pruned scan), read by
            # the written schema: an empty wave lands no partition, and on
            # the first wave leaves no file to infer one from
            landed = catalog.read(
                cfg.extracted_table, schema=extracted.schema
            ).filter((F.col("run_id") == cfg.run_id) & (F.col("bucket") == k))
            rule_hits = {
                r["rule"]: r["count"]
                for r in landed.groupBy("rule").count().collect()
            }
            rows_in = sum(rule_hits.values())
            rows_out = 0
            if rows_in:
                records = consolidate_stage(landed)
                # run correlation stamp (reference: cosmosEntity.OperationId,
                # PdfProcessorFunction.cs:197) — injected as a job arg, never
                # wall-clock inside executors
                records = _dedup_within_batch(records).withColumn(
                    "op_run_id", F.lit(cfg.run_id)
                )
                if catalog.exists(cfg.output_table):
                    existing = catalog.read(cfg.output_table, records.schema)
                    # both counters in one aggregate over the records' keys
                    n_records, n_dup = records.select("doc_key").join(
                        existing.select("doc_key").distinct()
                        .withColumn("_dup", F.lit(True)),
                        "doc_key", "left",
                    ).agg(F.count(F.lit(1)), F.count("_dup")).first()
                    rows_out = n_records - n_dup
                    new_records = dedup_against_existing(records, existing)
                else:
                    n_records = rows_out = records.count()
                    new_records = records
                summary["skipped_duplicates"] += n_records - rows_out
                if rows_out:
                    catalog.append(new_records, cfg.output_table)
            wall_ms = int((time.monotonic() - t0) * 1000)
            _commit_lineage(
                catalog, cfg, k, rows_in, rows_out, rule_hits, wall_ms,
                "Succeeded",
            )
            summary["buckets"].append(
                {
                    "partition_id": k,
                    "status": "Succeeded",
                    "rows_in": rows_in,
                    "rows_out": rows_out,
                    "wall_ms": wall_ms,
                }
            )
        except Exception as e:
            # bucket-level isolation (reference: mark the Operation Failed
            # with the error, then rethrow — PdfProcessorFunction.cs:237-251).
            # The Failed row records the failure for operators; the re-raise
            # preserves job semantics. A resume skips only Succeeded buckets,
            # so this bucket reprocesses.
            wall_ms = int((time.monotonic() - t0) * 1000)
            try:
                _commit_lineage(
                    catalog, cfg, k, 0, 0, {}, wall_ms, "Failed",
                    error=f"{type(e).__name__}: {e}"[:512],
                )
            except Exception:
                # best-effort: the Failed marker must never mask the real
                # error (the store that just failed may be the lineage store)
                pass
            summary["buckets"].append(
                {"partition_id": k, "status": "Failed"}
            )
            raise
    return summary


def _commit_lineage(
    catalog, cfg, k, rows_in, rows_out, rule_hits, wall_ms, status, error=None
):
    now = cfg.clock() if callable(cfg.clock) else cfg.clock
    row = (cfg.run_id, k, rows_in, rows_out, rule_hits, wall_ms, status, now,
           error)
    catalog.append_rows([row], cfg.lineage_table, LINEAGE_SCHEMA)
