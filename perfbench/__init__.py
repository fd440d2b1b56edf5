"""Benchmark of dask_obj_spark: workloads, per-layer probes and the runner."""
