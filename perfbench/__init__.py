"""Benchmark harness for gdal_spark; see README.md."""
