"""Benchmark of the zcollection_spark collection surfaces."""
