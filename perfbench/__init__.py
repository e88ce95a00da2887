"""Seeded end-to-end and per-layer benchmark of diagon_spark (run.py)."""
