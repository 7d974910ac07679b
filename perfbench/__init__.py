"""Layered end-to-end benchmark of the gate queries (see run.py)."""
