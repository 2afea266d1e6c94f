"""The batch pipeline: transcripts → extraction → folds → consolidated records.

Rebuild of the reference's entry point A (SURVEY.md §3.1,
``PdfProcessorFunction.Run`` → decode → OCR loop → aggregate → fold →
persist → checkpoint), as a Spark batch job:

    read → turn-range filter (BEFORE the Python barrier) → Arrow map
    extraction → field contributions → forward-fill runs → consolidation folds
    → duplicate-skip anti-join → append output → lineage row per partition

Checkpoint/resume model (north rule): work is split into ``n_buckets`` hash
buckets of ``conv_id`` (production: Iceberg ``bucket(N, conv_id)`` partitions,
so each wave's scan prunes to its bucket — no full rescans). A lineage row is
committed per bucket; a re-run with the same ``run_id`` anti-joins completed
buckets and processes only the remainder, and the duplicate-skip anti-join
(FR-019, ``PdfProcessorFunction.cs:261-277``) makes the append idempotent
even if a bucket died after writing output but before its lineage commit.

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

from ..operators.aggregation import consolidate_auto, consolidate_compact
from ..operators.extraction import extract_turns, salted_repartition
from ..functions.selection import TurnSelection
from ..sources.catalog import Catalog

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
    write_extracted: bool = True
    #: opt-in pre-extraction salted shuffle — only for skewed/badly-packed
    #: inputs (see operators.extraction.salted_repartition); the default path
    #: takes its parallelism from input splits, shuffle-free
    salt_extraction: bool = False
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
    #: automatic long-conversation fold guard: documents whose contribution
    #: count exceeds this route through the long-format per-field fold
    #: instead of the compact collect_list fold (north rule: explicit skew
    #: handling for long conversations). The default sits at the compact
    #: path's documented ~10⁶-contribution comfort bound; None disables the
    #: guard (pure compact plan, one shuffle)
    long_doc_threshold: int | None = 1_000_000


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def extract_stage(
    turns: DataFrame,
    turn_range: str | None = None,
    salt: bool = False,
    extract_fn=None,
) -> DataFrame:
    """Selection filter (pushed before the Python barrier) + extraction.

    The turn-range filter sits BEFORE the Arrow map extraction pass
    (:func:`..operators.extraction.extract_turns`) in the plan — excluded
    turns never reach the expensive stage (reference FR-009 dispose-before-OCR,
    ``PdfProcessorFunction.cs:311-318``; SC-003 ≥80% cost cut).

    Shuffle-free by default: extraction is turn-local and runs under the
    scan's partitioning (size input splits via
    ``spark.sql.files.maxPartitionBytes``). ``salt=True`` inserts the
    salted repartition for skewed or badly-packed inputs — a measured 2×
    cost on multi-process topologies, so it is opt-in.
    """
    sel = TurnSelection.parse(turn_range)
    if not sel.is_all:
        turns = turns.filter(F.col("turn_idx").isin(*sel.turns))
    if salt:
        turns = salted_repartition(turns)
    return extract_turns(turns, extract_fn=extract_fn)


def consolidate_stage(
    extracted: DataFrame, long_doc_threshold: int | None = None
) -> DataFrame:
    """Extracted turns → forward-fill runs → folded consolidated records.

    One linear plan (``consolidate_compact``): contributions and the
    per-turn identifier are column expressions over ``extracted_text``, so
    the extracted table is consumed exactly once — no multi-branch re-run of
    the extraction stage and no intermediate persists (round 1's persisted
    contribs/runs + pivot + headers join was the 4× local[32] cliff in
    BENCH_r01). Two shuffles end-to-end: the run window sort and the fold
    groupBy.

    ``long_doc_threshold`` arms the automatic long-document guard
    (``consolidate_auto``): contribution-heavy documents take the
    long-format per-field fold whose buffers are streaming aggregates, so
    one million-field conversation cannot OOM a task. Row-identical output
    either way; the guard costs one extra count window + a second (usually
    empty) aggregation branch, so the hot batch path leaves it off and
    ``run_pipeline`` arms it by default.
    """
    if long_doc_threshold is not None:
        return consolidate_auto(extracted, threshold=long_doc_threshold)
    return consolidate_compact(extracted)


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


def dedup_against_existing(
    records: DataFrame, existing: DataFrame, key: str = "doc_key"
) -> DataFrame:
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
        existing.select(key), key, "left_anti"
    ).select(*records.columns)


def run_pipeline(
    spark: SparkSession, catalog: Catalog, cfg: PipelineConfig
) -> dict:
    """Run (or resume) the pipeline; returns a summary dict.

    One wave per remaining bucket: process → append output → commit lineage.
    A killed run resumes by lineage anti-join; partially-written buckets are
    healed by the doc_key duplicate-skip anti-join.
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
        turns = raw.withColumn(_BUCKET, _bucket_col(cfg.n_buckets))
        bucket_ids = list(range(cfg.n_buckets))

    completed: set[int] = set()
    if catalog.exists(cfg.lineage_table):
        lineage = catalog.read(cfg.lineage_table)
        completed = {
            r.partition_id
            for r in lineage.filter(
                (F.col("run_id") == cfg.run_id)
                & (F.col("status") == "Succeeded")
            )
            .select("partition_id")
            .distinct()
            .collect()
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
            _commit_lineage(
                spark, catalog, cfg, k, 0, 0, {}, 0, "Cancelled"
            )
            summary["buckets"].append(
                {"partition_id": k, "status": "Cancelled"}
            )
            summary["cancelled"] = True
            break
        t0 = time.monotonic()
        bucket_turns = turns.filter(F.col(_BUCKET) == k).drop(_BUCKET)
        extracted = extract_stage(
            bucket_turns, cfg.turn_range, salt=cfg.salt_extraction,
            extract_fn=cfg.extract_fn,
        )
        extracted = extracted.persist()
        try:
            rows_in = extracted.count()
            rule_hits = {
                r["rule"]: r["count"]
                for r in extracted.groupBy("rule").count().collect()
            }
            if cfg.write_extracted and rows_in:
                catalog.append(
                    extracted.withColumn("run_id", F.lit(cfg.run_id)),
                    cfg.extracted_table,
                )
            records = consolidate_stage(
                extracted, long_doc_threshold=cfg.long_doc_threshold
            )
            # run correlation stamp (reference: cosmosEntity.OperationId,
            # PdfProcessorFunction.cs:197) — injected as a job arg, never
            # wall-clock inside executors
            records = _dedup_within_batch(records).withColumn(
                "op_run_id", F.lit(cfg.run_id)
            )
            n_records = records.count()
            if catalog.exists(cfg.output_table):
                new_records = dedup_against_existing(
                    records, catalog.read(cfg.output_table)
                )
            else:
                new_records = records
            rows_out = new_records.count()
            summary["skipped_duplicates"] += n_records - rows_out
            if rows_out:
                catalog.append(new_records, cfg.output_table)
            wall_ms = int((time.monotonic() - t0) * 1000)
            _commit_lineage(
                spark, catalog, cfg, k, rows_in, rows_out, rule_hits, wall_ms,
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
                    spark, catalog, cfg, k, 0, 0, {}, wall_ms, "Failed",
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
        finally:
            extracted.unpersist()
    return summary


def _commit_lineage(
    spark, catalog, cfg, k, rows_in, rows_out, rule_hits, wall_ms, status,
    error: str | None = None,
):
    now = cfg.clock() if callable(cfg.clock) else cfg.clock
    from ..schema import LINEAGE_SCHEMA

    row = [
        (cfg.run_id, k, rows_in, rows_out, rule_hits, wall_ms, status, now,
         error)
    ]
    catalog.append(spark.createDataFrame(row, LINEAGE_SCHEMA), cfg.lineage_table)
