"""Closed-loop load benchmark; entry point ``perfbench/run.py``."""
