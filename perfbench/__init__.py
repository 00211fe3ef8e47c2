"""Benchmark for bliss_rs_spark: seeded serve/churn workloads, end-to-end
metrics, and an event-log-traced per-layer table.  Run ``perfbench/run.py``."""
