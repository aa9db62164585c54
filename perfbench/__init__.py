"""Benchmark of polla_spark's public entry points; see ``run.py``."""
