"""Benchmark for kitkat-spark; entry point: perfbench/run.py."""
