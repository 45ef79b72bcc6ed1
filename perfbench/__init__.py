"""Benchmark of geomesa_hive_spark; entry point: perfbench/run.py."""
