"""Benchmark harness for the conversion engine (see run.py)."""
