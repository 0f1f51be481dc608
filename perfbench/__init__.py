"""Lakehouse benchmark: seeded workloads, reference models, traced run."""
