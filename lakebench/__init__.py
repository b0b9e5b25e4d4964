"""Benchmark of the lakehouse engine: seeded inputs, two workloads, outside-in tracing."""
