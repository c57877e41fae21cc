"""Benchmark of datastream_spark: see README.md in this directory."""
