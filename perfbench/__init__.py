"""Benchmark of the debezium_spark CDC engine: three workloads, one command.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root. See ``perfbench/DESIGN.md``.
"""
