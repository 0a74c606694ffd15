"""Benchmark for the ELT and analytics paths; see README.md."""
