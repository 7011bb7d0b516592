"""Benchmark of the mysql_syncer_spark CDC engine, run on every change (see README.md)."""
