"""Benchmark for the geomesa_spark engine; see README.md."""
