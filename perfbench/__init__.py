"""Benchmark for the pig_spark engine; run ``python3 perfbench/run.py --help``."""
