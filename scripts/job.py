"""spark-submit entry point for the extraction pipeline.

Production layout (multi-executor cluster)::

    zip -r poc_document_ocr_spark.zip poc_document_ocr_spark
    spark-submit --py-files poc_document_ocr_spark.zip \
        --driver-java-options "-XX:TieredStopAtLevel=1" \
        --conf spark.sql.codegen.cache.maxEntries=1000 scripts/job.py \
        --catalog-root /data/warehouse --input transcripts \
        --run-id run-2026-08-17 --buckets 64 [--turn-range "1-10, 15"] \
        [--resume]

The two settings are the ones ``session.get_spark`` sets (see its module
docstring for why). This script builds its own session and cannot set them:
a running driver cannot change its JVM options, and the codegen cache size
is a static conf. The JIT flag reaches the driver only; executors keep
tiered C2 for their long data loops.

Reference analog: the queue message that launches one processing operation
(``QueueMessage`` → ``PdfProcessorFunction.Run``); job args carry what the
message carried (source, selection, operation id). Re-running with the same
``--run-id`` resumes from the lineage table (anti-join on completed
buckets). A bucket that died mid-wave is redone exactly: its extracted
turns replace their ``(run_id, bucket)`` partition of ``--extracted``, and
its records pass the duplicate-skip anti-join into ``--output``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--catalog-root", required=True,
                   help="warehouse root (parquet dirs; Iceberg in prod)")
    p.add_argument("--input", default="transcripts")
    p.add_argument("--output", default="consolidated")
    p.add_argument("--extracted", default="extracted_turns")
    p.add_argument("--lineage", default="lineage")
    p.add_argument("--run-id", required=True)
    p.add_argument("--turn-range", default=None,
                   help='print-dialog selection, e.g. "3-12, 15"')
    p.add_argument("--buckets", type=int, default=64)
    args = p.parse_args(argv)

    # import after arg parsing so --help works without a JVM; when launched
    # as `python scripts/job.py` (no --py-files), resolve the package from
    # the repo root next to this script
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from pyspark.sql import SparkSession

    from poc_document_ocr_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from poc_document_ocr_spark.sources.catalog import Catalog

    spark = SparkSession.builder.appName(
        f"transcript-extraction-{args.run_id}"
    ).getOrCreate()
    catalog = Catalog(spark, args.catalog_root)
    cfg = PipelineConfig(
        input_table=args.input,
        output_table=args.output,
        extracted_table=args.extracted,
        lineage_table=args.lineage,
        run_id=args.run_id,
        turn_range=args.turn_range,
        n_buckets=args.buckets,
    )
    summary = run_pipeline(spark, catalog, cfg)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
