"""Benchmark of the shipped entry points; see README.md."""
