"""Repository benchmark: workloads, correctness oracles and layer tracing."""
