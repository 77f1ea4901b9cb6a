"""Benchmark for the etl_jobs_spark engine (see README.md)."""
