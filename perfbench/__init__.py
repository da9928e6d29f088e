"""Repository benchmark: two workloads measured from outside the engine.

Run ``python3 perfbench/run.py --help``; see README.md in this directory.
"""
