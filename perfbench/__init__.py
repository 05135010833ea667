"""Benchmark for the projectmapreduce_spark engine: see README.md."""
