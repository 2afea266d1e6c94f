"""Benchmark of record for the transcript pipeline; see ``run.py``."""
