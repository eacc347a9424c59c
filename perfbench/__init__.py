"""Benchmark of the engine: workloads, outside-in probes and oracle checks.

Entry point: ``python3 perfbench/run.py`` (see README.md)."""
