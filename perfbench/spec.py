"""Metric and workload names: the single source ``BENCHMARK.json`` and
the result line are checked against (``perfbench/tests/test_perfbench.py``).

Each entry is ``name -> (unit, better)``.  End-to-end metrics come from
untraced runs (``--trace 0``); per-layer metrics only from traced runs
(``--trace 1``).
"""

from __future__ import annotations

WORKLOADS = ("extract_cold", "checkpoint_interleaved", "curate_docs")

END_TO_END = {
    "setup_s": ("s", "lower"),
    "job_s": ("s", "lower"),
    "docs_per_s": ("docs/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

# the fixed chain of registry queries the curate_docs workload runs
CURATE_CHAIN = ("quality_filter", "dedup_minhash_pairs", "lm_score")

# kernels timed by the single-process replay of the OCR stage's work
# units; each gets a `<name>_s` time and a `<name>.calls` count
REPLAY_KERNELS = (
    "codecs.decode",
    "analyzer.analyze",
    "kernels.deskew",
    "kernels.denoise",
    "kernels.binarize",
    "kernels.contrast",
    "kernels.other",
    "ocr.recognize",
)


def _per_layer() -> dict[str, tuple[str, str]]:
    m: dict[str, tuple[str, str]] = {
        "session.start_s": ("s", "lower"),
        "session.warmup_s": ("s", "lower"),
        "sources.scan_mb": ("MB", "lower"),
        "pipeline.explode_s": ("s", "lower"),
        "pipeline.spans": ("count", "lower"),
        "pipeline.hash_s": ("s", "lower"),
        "pipeline.hash_mb": ("MB", "lower"),
        "pipeline.work_units": ("count", "lower"),
        "pipeline.dedup_ratio": ("ratio", "lower"),
        "pipeline.join_s": ("s", "lower"),
        "pipeline.shuffle_write_mb": ("MB", "lower"),
        "partitioning.partitions": ("count", "lower"),
        "partitioning.rows_max_over_mean": ("ratio", "lower"),
        "partitioning.task_s_max_over_median": ("ratio", "lower"),
        "media_ocr.stage_s": ("s", "lower"),
        "media_ocr.busy_s": ("s", "lower"),
        "media_ocr.core_util": ("ratio", "higher"),
        "media_ocr.images": ("count", "lower"),
        "media_ocr.image_ms_p50": ("ms", "lower"),
        "media_ocr.image_ms_p99": ("ms", "lower"),
        "media_ocr.error_rows": ("count", "lower"),
    }
    for k in REPLAY_KERNELS:
        m[f"{k}_s"] = ("s", "lower")
        m[f"{k}.calls"] = ("count", "lower")
    m.update({
        "text_extract.html_s": ("s", "lower"),
        "text_extract.html_docs": ("count", "lower"),
        "pdf.parse_s": ("s", "lower"),
        "pdf.docs": ("count", "lower"),
        "pdf.ocr_fallback_docs": ("count", "lower"),
        "checkpoint.buckets": ("count", "lower"),
        "checkpoint.bucket_s_p50": ("s", "lower"),
        "checkpoint.bucket_s_max": ("s", "lower"),
        "checkpoint.spark_jobs": ("count", "lower"),
        "checkpoint.recompute_ratio": ("ratio", "lower"),
        "checkpoint.written_mb": ("MB", "lower"),
        "checkpoint.files_written": ("count", "lower"),
        "checkpoint.write_amp": ("ratio", "lower"),
    })
    for q in CURATE_CHAIN:
        m[f"queries.{q}_s"] = ("s", "lower")
        m[f"queries.{q}_shuffle_mb"] = ("MB", "lower")
    m.update({
        "spark.gc_s": ("s", "lower"),
        "spark.spill_mb": ("MB", "lower"),
        "spark.tasks": ("count", "lower"),
        "trace.job_s": ("s", "lower"),
        "trace.overhead_s": ("s", "lower"),
        "trace.replay_over_busy": ("ratio", "lower"),
    })
    return m


PER_LAYER = _per_layer()
