"""Seeded end-to-end and per-layer benchmark for the Spark-native Korean
full-text engine. Entry point: ``python3 perfbench/run.py --help``."""
