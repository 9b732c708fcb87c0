"""Benchmark of record for core_spark; see README.md."""
