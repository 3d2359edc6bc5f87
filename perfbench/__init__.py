"""Benchmark of miniodb_spark: the Engine SQL path, the analytic query
suite, and writes beside reads, timed end to end and per layer."""
