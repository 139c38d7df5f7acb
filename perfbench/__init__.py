"""Benchmark of the DQ engine and the heavy operator layers (see run.py)."""
