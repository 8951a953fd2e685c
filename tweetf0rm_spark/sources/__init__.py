"""Sources & sinks: the parquet snapshot store (snapshots.py)."""
