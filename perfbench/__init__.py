"""Seeded end-to-end benchmark of the geohash engine (see run.py)."""
