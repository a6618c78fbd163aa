"""Benchmark for the extraction engine; entry point: perfbench/run.py."""
