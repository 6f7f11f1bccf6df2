"""Benchmark of the sbse engine; see perfbench/METRICS.md."""
