from .ingest import stream_consolidate_to_catalog  # noqa: F401
