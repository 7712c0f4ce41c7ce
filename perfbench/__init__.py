"""Benchmark for the engine: see NOTES.md and run.py."""
