"""Benchmark of the engine: seeded workloads, end-to-end and per-layer metrics."""
