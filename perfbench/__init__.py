"""Benchmark of the funding engine; see README.md."""
