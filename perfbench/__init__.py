"""Closed-loop benchmark for palletjack_spark: one client, seeded inputs,
end-to-end metrics untraced and per-layer metrics from a traced run.
Run ``python3 perfbench/run.py --help`` from the repository root."""
