"""Benchmark of the engine; see run.py."""
