"""Repository benchmark: workloads, output checks and per-layer tracing.

Run from the repository root:

    python3 perfbench/run.py --workload extract_text --seed 42 --seconds 20 --trace 0

See perfbench/README.md for the workloads and every metric.
"""
