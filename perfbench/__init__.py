"""Benchmark for MICR extraction and the training-data queries; see
``METRICS.md`` and ``run.py``."""
