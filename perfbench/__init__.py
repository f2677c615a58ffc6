"""CDC view-maintenance benchmark (see run.py)."""
