"""End-to-end extraction benchmark split by layer (see run.py)."""
