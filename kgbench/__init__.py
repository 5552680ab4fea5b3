"""kgforge benchmark: workloads, seeded inputs and the per-layer trace."""
