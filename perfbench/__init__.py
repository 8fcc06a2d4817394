"""Benchmark of the interactive-query service, its ingest path and the
batch driver keys; see METRICS.md."""
