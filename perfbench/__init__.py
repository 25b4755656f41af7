"""Benchmark of the recon_spark pipelines (see README.md)."""
