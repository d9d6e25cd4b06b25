"""Benchmark of tegallega_spark; see README.md."""
