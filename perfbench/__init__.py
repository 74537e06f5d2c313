"""Seeded end-to-end benchmark for the segmented vector index."""
