"""Closed-loop benchmark of the query catalog: seeded inputs, timed
workloads, DuckDB oracle checks, and a traced per-layer profile.

Run it as ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root; README.md in
this directory describes the workloads and metrics.
"""
