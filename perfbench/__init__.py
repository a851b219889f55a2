"""Extraction benchmark for ``mcp_ocr_server_spark``.

Run from the repository root::

    python3 perfbench/run.py --workload extract_cold --seed 1 --seconds 6 --trace 0

The package under test is treated as a black box: the benchmark only
calls its public entry points and reads Spark's own status store.  See
``perfbench/README.md`` for the workloads, the metrics and how each
per-layer metric maps to an end-to-end one.
"""
