"""Repository benchmark: seeded workloads over the public sgdnet_spark API.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see perfbench/README.md.
"""
