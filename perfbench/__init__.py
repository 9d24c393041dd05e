"""Closed-loop benchmark of olake_spark: maintenance cycle, CDC trickle and
read serving, with an optional per-layer trace. Entry point: ``run.py``."""
