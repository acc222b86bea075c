"""Benchmark of the extraction engine; see perfbench/README.md."""
