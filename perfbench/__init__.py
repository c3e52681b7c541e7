"""End-to-end and per-layer benchmark of dozer_spark (see run.py)."""
