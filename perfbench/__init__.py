"""The repository's benchmark: workloads, output checks and metrics.

Entry points: ``perfbench/run.py`` (one run) and ``perfbench/steady.py``
(repeated runs and their spread).  See ``perfbench/README.md``.
"""
