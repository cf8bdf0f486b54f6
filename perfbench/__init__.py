"""The repository benchmark: seeded workloads, end-to-end metrics and a
span/event-log trace per layer. Entry point: ``perfbench/run.py``."""
