"""Benchmark harness for the Kinesis sink path, its streaming and
round-trip uses, and the curation operators. Entry point: ``run.py``."""
