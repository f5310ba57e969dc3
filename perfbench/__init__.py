"""Seeded benchmark for the batch_geocode_spark engine (see run.py)."""
