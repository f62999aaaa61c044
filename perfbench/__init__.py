"""Caller-facing benchmark of hipporag_spark; entry point ``perfbench/run.py``."""
