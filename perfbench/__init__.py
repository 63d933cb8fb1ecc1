"""Benchmark of the engine's full-text path (see run.py and BENCHMARK.json)."""
