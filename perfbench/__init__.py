"""tubes-spark benchmark package; the entry point is run.py."""
