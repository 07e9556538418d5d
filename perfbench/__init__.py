"""Benchmark of the CDC engine: seeded workloads, oracle checks, spans."""
