"""Benchmark of gelly_streaming_spark; run it with ``python3 perfbench/run.py``."""
