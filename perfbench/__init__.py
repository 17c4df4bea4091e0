"""Benchmark of sutro_spark: see NOTES.md and run.py."""
