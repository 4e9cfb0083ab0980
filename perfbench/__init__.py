"""Benchmark of the engine: see README.md and BENCHMARK.json."""
