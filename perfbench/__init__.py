"""Seeded, closed-loop benchmark for the aggregation_duckdb_spark package.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the root of a checkout. See
``perfbench/NOTES.md`` for the workloads, the metric map and the input
sizes.
"""
