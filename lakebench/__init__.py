"""Lakehouse benchmark: incremental refresh and analytic reads (see run.py)."""
