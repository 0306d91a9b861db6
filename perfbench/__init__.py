"""Repository benchmark for ocr_spark: seeded workloads, outside-in metrics.

Run ``python3 perfbench/run.py --help``; see ``perfbench/README.md``.
"""
