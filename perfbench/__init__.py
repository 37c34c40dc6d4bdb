"""Ingest-path benchmark: socket → encode → sink, plus an analytics slice.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``. See ``BENCHMARK.json`` at the repository
root for the workloads and the metric → layer map.
"""
