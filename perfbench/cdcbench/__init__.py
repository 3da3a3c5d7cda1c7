"""CDC engine benchmark: workloads, input generator, tracing and checks.

Entry point: ``perfbench/run.py``.  See ``perfbench/README.md``.
"""
