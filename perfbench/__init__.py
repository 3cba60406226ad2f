"""Seeded, oracle-checked benchmark of the engine; see README.md."""
