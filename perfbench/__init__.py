"""Benchmark of the flagship pipeline; see run.py."""
