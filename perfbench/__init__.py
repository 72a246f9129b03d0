"""Repository benchmark: see run.py and METRICS.md."""
