"""Benchmark of the CDC engine; entry point: perfbench/run.py."""
