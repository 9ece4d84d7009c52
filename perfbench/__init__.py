"""Benchmark of the data_prepper_spark engine; entry point perfbench/run.py."""
