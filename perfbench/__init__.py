"""Extraction benchmark for texoo_spark; entry point perfbench/run.py."""
