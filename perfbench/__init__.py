"""Benchmark of the engine's three user-facing jobs (see README.md)."""
