"""Benchmark of the shipped log job, MinHash dedup and sink fan-out.

Run ``python3 perfbench/run.py --help`` from the repository root; see
``perfbench/README.md`` for the workloads and metrics.
"""
