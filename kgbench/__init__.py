"""Seeded benchmark of the pages → item tables pipeline (see run.py)."""
