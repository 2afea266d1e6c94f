"""poc_document_ocr_spark — PySpark-native transcript main-content extraction.

A from-scratch Spark-first rebuild of the data-processing semantics of
``martins-vds/poc-document-ocr`` (C#/Azure per-page OCR → forward-fill
aggregation → per-field consolidation), transposed to multi-turn
conversation/agent transcripts::

    (conv_id:string, turn_idx:int32, role:string, text:string, tool:string, ts:timestamp)

Layers:

* ``schema``      — single-source-of-truth catalog (13-field, merge sets, structs)
* ``functions``   — pure-Python extraction engines (HTML/layout/markdown/dispatch/selection)
* ``operators``   — DataFrame operators (mapInArrow extraction, forward-fill fold, field merge)
* ``sources``     — table adapters (parquet dirs in sandbox; Iceberg in prod)
* ``plans``       — the batch job (bucket waves: land extracted turns → fold → append, lineage, resume)
* ``streaming``   — the streaming job (micro-batches: land extracted turns → re-fold touched buckets)
"""

__version__ = "0.1.0"
