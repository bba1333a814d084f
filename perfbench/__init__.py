"""Benchmark for the mre extraction engine; see README.md."""
