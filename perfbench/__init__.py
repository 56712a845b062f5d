"""Repository benchmark: workloads, span recorder, metrics (README.md)."""
