"""Benchmark of the jvector_spark engine: workloads, tracing and ledger.

Entry point: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` from the repository root.
"""
