"""Extraction benchmark: seeded inputs, timed workloads, plant-time oracle
and a traced per-layer breakdown. Entry point: ``python3 perfbench/run.py``.
"""
