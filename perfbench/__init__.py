"""Repository benchmark (see run.py and WORKLOADS.md)."""
