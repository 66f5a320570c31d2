"""Benchmark harness for the CDC engine; see README.md."""
