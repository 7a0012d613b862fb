"""Lakehouse->RAG workload benchmark (see run.py and METRICS.md)."""
