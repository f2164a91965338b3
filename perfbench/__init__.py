"""Benchmark of the webdedup engine: seeded workloads, end-to-end metrics
and an outside-in traced run (see README.md)."""
