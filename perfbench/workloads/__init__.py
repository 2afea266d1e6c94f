"""The benchmark's workloads, by the name ``--workload`` takes."""

from . import extract, ingest, pipeline

WORKLOADS = {"extract": extract, "pipeline": pipeline, "ingest": ingest}
