"""Benchmark of the-hive-spark; see README.md."""
