"""Standalone benchmark of the pipeline and its analytics: two closed-loop
workloads with end-to-end and per-layer metrics. Entry point: ``run.py``."""
