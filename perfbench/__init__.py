"""End-to-end and per-layer benchmark of the bubbles MR-HDBSCAN* engine.

Run it from the root of a checkout::

    python3 perfbench/run.py --workload fit_lineitem_4d --seed 1 --seconds 20 --trace 0

``run.py`` documents the command line, ``workloads.py`` the workloads
and their output checks, ``trace.py`` the per-layer attribution.
"""
