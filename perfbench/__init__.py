"""Benchmark of the telemetry pipeline; see README.md."""
