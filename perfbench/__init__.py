"""eggopress benchmark: workloads, tracing and the per-layer ladder."""
