"""KG-construction benchmark: seeded workloads, output checks and a
per-module layer trace (see perfbench/README.md)."""
