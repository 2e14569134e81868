"""Seeded linkage benchmark (see run.py and README.md)."""
