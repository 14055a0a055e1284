"""Benchmark of the autoprepad_spark validation engine; see README.md."""
