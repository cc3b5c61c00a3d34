"""Seeded benchmark for the BM25 index engine (see README.md).

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 4 --trace 0
"""
