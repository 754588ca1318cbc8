"""Benchmark of the repository: see perfbench/run.py and README.md."""
