"""Benchmark of the kiji_scoring_spark engine: freshen-on-read serving,
writeback with stale fallback, and the batch query mix. Entry point:
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``."""
