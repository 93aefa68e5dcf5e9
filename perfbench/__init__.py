"""Repository benchmark: seeded closed-loop workloads over lime_etl_spark.

Entry point: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` from the repository root. See
``perfbench/NOTES.md`` for workload sizes, metric definitions and the
layer-to-metric map.
"""
