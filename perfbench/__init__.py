"""Benchmark of the flumedb_spark engine and catalog; see run.py."""
