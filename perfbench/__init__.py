"""Benchmark of the engine: workloads, tracing and seeded inputs (see README.md)."""
