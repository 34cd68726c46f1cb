"""Layered benchmark of the quality-filter engine (see run.py)."""
