"""Steady end-to-end and per-layer benchmark of the quality-filter engine.

Run ``python3 perfbench/run.py --help``; ``perfbench/README.md`` explains the
workloads, the metrics and how to read a trace.
"""
