"""Extraction benchmark for high_performance_docling_spark.

Run ``python3 perfbench/run.py --help`` from the repository root; see
perfbench/README.md for the workloads and the metric ledger.
"""
