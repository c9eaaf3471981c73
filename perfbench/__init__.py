"""Benchmark of the tier pipeline: batch_full, incremental_refresh and
tier_queries. Run ``python3 perfbench/run.py --help``; see README.md."""
