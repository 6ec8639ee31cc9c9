"""Benchmark of the flusher_spark engine (see README.md)."""
