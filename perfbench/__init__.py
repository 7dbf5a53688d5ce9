"""Benchmark of the linkage engine; the entry point is perfbench/run.py."""
