"""Benchmark of the tiler and its query operators (see run.py)."""
