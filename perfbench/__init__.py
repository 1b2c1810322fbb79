"""Benchmark of hds_functions_spark; see README.md."""
