"""Benchmark of the engine: see perfbench/run.py and perfbench/spec.json."""
