"""Layered validation benchmark (see README.md; entry point: run.py)."""
