"""Seeded, output-checked benchmark of the rollup engine (see README.md)."""
