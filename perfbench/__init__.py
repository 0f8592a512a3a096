"""Benchmark for the askg_spark engine; entry point: run.py."""
