"""Seeded benchmark of pyradiomics_spark; entry point: perfbench/run.py."""
