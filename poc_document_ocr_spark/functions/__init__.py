"""Pure-Python extraction engines and scalar helpers.

These are deliberately Spark-free: they run inside the one ``mapInArrow``
extraction pass (the rebuild's analog of the reference's per-page OCR call,
``src/DocumentOcr.Processor/Services/DocumentIntelligenceService.cs:72-201``)
and are unit-tested with small fixed-input table tests.
"""
