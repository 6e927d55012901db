"""Repository benchmark: workloads, metrics and the launcher (see run.py)."""
