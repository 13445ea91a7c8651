"""End-to-end and per-layer benchmark of the KG pipeline (see run.py)."""
