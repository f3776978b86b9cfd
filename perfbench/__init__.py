"""Closed-loop benchmark of the scones pipeline; see perfbench/run.py."""
