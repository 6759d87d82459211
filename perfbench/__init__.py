"""Warehouse benchmark: seeded inputs, workloads, tracing and run summaries.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` (see README.md in this directory).
"""
