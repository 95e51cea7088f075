"""The repository's benchmark: workloads, checks and traced-run tooling.

Entry point: ``python3 perfbench/run.py`` (see perfbench/README.md).
"""
