"""Benchmark of record for fefal_etl_spark; see README.md in this directory."""
