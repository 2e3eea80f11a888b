"""Seeded end-to-end benchmark of the tiered rollup engine.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see README.md for the workloads and metrics.
"""
