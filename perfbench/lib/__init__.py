"""Metric arithmetic for perfbench/run.py (kept free of I/O so the
tests in perfbench/tests can exercise it directly)."""
