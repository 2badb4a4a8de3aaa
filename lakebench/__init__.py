"""Lakehouse benchmark for the rxlan engine; entry point ``lakebench/run.py``."""
