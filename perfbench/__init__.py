"""Benchmark of etl4s_spark; see README.md in this directory."""
