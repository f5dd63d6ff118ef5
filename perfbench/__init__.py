"""Same-host benchmark for cdstore_spark: seeded workloads, oracle-checked
outputs, end-to-end metrics from untraced runs and per-layer Spark task
metrics from traced runs. Entry point: ``python3 perfbench/run.py``."""
