"""Seeded end-to-end benchmark of the link-graph engine (see ``run.py``)."""
