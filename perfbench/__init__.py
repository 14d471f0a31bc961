"""Benchmark for the CDC engine and its query library; see README.md."""
