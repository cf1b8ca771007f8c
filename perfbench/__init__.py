"""The engine's benchmark: workloads, tracing and measurement (see run.py)."""
