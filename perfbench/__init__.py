"""Benchmark of the s2geography_spark engine (see README.md)."""
