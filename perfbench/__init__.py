"""Pulsar-shaped benchmark: live tail of a topic, and analytics at rest.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/README.md``.
"""
