"""End-to-end benchmark of the engine through its public entry points.

Run one workload with ``python3 perfbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>``; see perfbench/README.md.
"""
