"""Benchmark for the WINS staging job and the registry headliners; see run.py."""
