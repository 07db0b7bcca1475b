"""Benchmark of the extraction pipeline and the operator queries; entry
point ``perfbench/run.py``."""
