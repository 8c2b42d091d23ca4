"""Benchmark for ziggurat_spark (workloads, metrics and bounds in
BENCHMARK.json; entry point run.py). Its own logic is tested with
``python3 -m pytest perfbench/tests``."""
