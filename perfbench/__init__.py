"""Benchmark of the engine: workloads, oracles and layer tracing."""
