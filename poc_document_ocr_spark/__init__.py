"""poc_document_ocr_spark — PySpark-native transcript main-content extraction.

A from-scratch Spark-first rebuild of the data-processing semantics of
``martins-vds/poc-document-ocr`` (C#/Azure per-page OCR → forward-fill
aggregation → per-field consolidation), transposed to multi-turn
conversation/agent transcripts::

    (conv_id:string, turn_idx:int32, role:string, text:string, tool:string, ts:timestamp)

Layers:

* ``schema``      — single-source-of-truth catalog (13-field, merge sets, structs)
* ``functions``   — pure-Python extraction engines (HTML/layout/markdown/dispatch/selection)
* ``operators``   — DataFrame operators (mapInArrow extraction, forward-fill fold, field merge, review;
                    training-data library: dedup, similarity, text stats, sampling)
* ``sources``     — table adapters (parquet dirs in sandbox; Iceberg in prod)
* ``plans``       — end-to-end jobs (extract → fold → persist, lineage, resume)
* ``streaming``   — Structured Streaming variant of the extraction stage
"""

__version__ = "0.1.0"
