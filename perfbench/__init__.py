"""Benchmark harness for db_migrator_spark; see README.md."""
