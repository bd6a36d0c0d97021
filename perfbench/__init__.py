"""Seeded, closed-loop benchmark of the engine's store, applier and
operator layers (see ``BENCHMARK.json`` and ``perfbench/run.py``)."""
