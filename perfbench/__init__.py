"""capsbm25 benchmark: seeded workloads, end-to-end metrics, traced per-layer counters."""
