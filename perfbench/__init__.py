"""Seeded end-to-end and per-layer benchmark for ocr_spark (see LAYERS.md)."""
