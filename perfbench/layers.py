"""Per-layer metrics of the traced run (``--trace 1``).

Each workload gets one traced job: the same work as the timed job, cut
into phases at layer boundaries, each phase under its own tracer span
and Spark job group.  The OCR stage's kernels, the html extractor and
the pdf parser are then replayed in this process, one work unit at a
time, to split their time by function.  Metrics a workload does not
exercise are reported as 0 and named in ``not_measured``.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import functions as F

from . import oracle
from .sparkstats import GroupStats, JobGroup
from .spec import CURATE_CHAIN, PER_LAYER, REPLAY_KERNELS
from .trace import Tracer

_STEP_KERNEL = {
    "deskew": "kernels.deskew",
    "denoise": "kernels.denoise",
    "binarization": "kernels.binarize",
    "contrast_enhance": "kernels.contrast",
}


def _job():
    from mcp_ocr_server_spark.config import FIXTURE_JOB

    return FIXTURE_JOB


def _spark_totals(m: dict, groups: list[GroupStats]) -> None:
    m["spark.gc_s"] = sum(g.sum("gc_s") for g in groups)
    m["spark.spill_mb"] = sum(g.sum("spill_mb") for g in groups)
    m["spark.tasks"] = sum(g.tasks for g in groups)
    m["sources.scan_mb"] = sum(g.sum("input_mb") for g in groups)


def extract_phases(spark, tables: dict, props: dict, tr: Tracer, cores: int,
                   hint: int | None) -> dict:
    """``plans.pipeline.extract`` cut at its layer boundaries: persisted
    media hash projection, explode, OCR results persisted and counted,
    then the rejoin + html + union forced by collecting row hashes."""
    from mcp_ocr_server_spark.plans.pipeline import (
        content_hash_col, explode_spans, extract,
    )

    cfg = _job()
    docs, media = tables["docs"], tables["media"]
    m: dict = {}
    groups: list[GroupStats] = []
    with JobGroup(spark, "hash") as g_hash, tr.span("pipeline.hash"):
        media_hashed = media.select(
            "media_ref",
            F.length("bytes").alias("n_bytes"),
            content_hash_col(cfg).alias("content_hash"),
        ).persist()
        hashed_bytes = media_hashed.agg(F.sum("n_bytes")).first()[0] or 0
    with JobGroup(spark, "explode") as g_explode, tr.span("pipeline.explode"):
        exploded = explode_spans(docs)
        m["pipeline.spans"] = sum(oracle.collect_hashes(
            exploded, oracle.normalised_hash(exploded)
        ).values())
    res = extract(docs, media, cfg, total_media_bytes=hint,
                  media_hashed=media_hashed, pdfs=tables.get("pdfs"))
    ocr = res.ocr_results.persist()
    with JobGroup(spark, "ocr") as g_ocr, tr.span("media_ocr"):
        n_units = ocr.count()
    with JobGroup(spark, "join") as g_join, tr.span("pipeline.join"):
        oracle.collect_hashes(res.spans, oracle.span_hash(res.spans))
    rows = ocr.select("partition_id", "duration_s", "error_code").collect()
    ocr.unpersist()
    media_hashed.unpersist()

    for g in (g_hash, g_explode, g_ocr, g_join):
        groups.append(g.stats(with_tasks=g is g_ocr))
    m["pipeline.hash_s"] = tr.total("pipeline.hash")
    m["pipeline.hash_mb"] = hashed_bytes / 1e6
    m["pipeline.explode_s"] = tr.total("pipeline.explode")
    m["pipeline.join_s"] = tr.total("pipeline.join")
    m["pipeline.work_units"] = n_units
    n_image = props["spans_by_kind"].get("image", 0)
    m["pipeline.dedup_ratio"] = n_units / n_image if n_image else 0.0
    m["pipeline.shuffle_write_mb"] = sum(g.sum("shuffle_write_mb") for g in groups)

    # the OCR stage: the stage of the ocr phase with the most task time
    stage = max(groups[2].stages, key=lambda s: s.run_s)
    m["partitioning.partitions"] = stage.num_tasks
    per_part = np.zeros(max(stage.num_tasks, 1))
    for r in rows:
        if 0 <= r["partition_id"] < len(per_part):
            per_part[r["partition_id"]] += 1
    m["partitioning.rows_max_over_mean"] = (
        float(per_part.max() / per_part.mean()) if per_part.sum() else 0.0
    )
    ts = stage.task_s
    m["partitioning.task_s_max_over_median"] = (
        max(ts) / float(np.median(ts)) if ts and np.median(ts) > 0 else 0.0
    )
    m["media_ocr.stage_s"] = stage.wall_s
    m["media_ocr.busy_s"] = stage.run_s
    m["media_ocr.core_util"] = (
        stage.run_s / (stage.wall_s * cores) if stage.wall_s else 0.0
    )
    dur_ms = [r["duration_s"] * 1e3 for r in rows if r["duration_s"] is not None]
    m["media_ocr.images"] = len(rows)
    m["media_ocr.image_ms_p50"] = float(np.percentile(dur_ms, 50)) if dur_ms else 0.0
    m["media_ocr.image_ms_p99"] = float(np.percentile(dur_ms, 99)) if dur_ms else 0.0
    m["media_ocr.error_rows"] = sum(r["error_code"] is not None for r in rows)
    _spark_totals(m, groups)
    return m


def checkpoint_job(spark, workload, inputs, tr: Tracer) -> tuple[dict, object]:
    with JobGroup(spark, "checkpoint") as g, tr.span("checkpoint.run"):
        store = workload.job(spark, inputs, rep=-1)
    stats = g.stats()
    walls = []
    n_ocr = 0
    for f in sorted(os.listdir(store.wm_dir)):
        if f.endswith(".json"):
            with open(os.path.join(store.wm_dir, f)) as fh:
                wm = json.load(fh)
            walls.append(wm["wall_s"])
            n_ocr += wm["n_ocr_computed"]
    written, files = 0, 0
    for root, _dirs, names in os.walk(store.root):
        files += len(names)
        written += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    units = inputs.props["distinct_work_units"]
    m = {
        "checkpoint.buckets": len(walls),
        "checkpoint.bucket_s_p50": float(np.median(walls)) if walls else 0.0,
        "checkpoint.bucket_s_max": max(walls, default=0.0),
        "checkpoint.spark_jobs": stats.jobs,
        "checkpoint.recompute_ratio": n_ocr / units if units else 0.0,
        "checkpoint.written_mb": written / 1e6,
        "checkpoint.files_written": files,
        "checkpoint.write_amp": written / (inputs.props["input_mb"] * 1e6),
    }
    _spark_totals(m, [stats])
    return m, store


def curate_job(spark, workload, inputs, tr: Tracer) -> dict:
    from mcp_ocr_server_spark import queries as Q

    m: dict = {}
    groups = []
    Q.clear_caches(spark)
    for name in CURATE_CHAIN:
        with JobGroup(spark, name) as g, tr.span(f"queries.{name}"):
            q = workload.query(spark, inputs, name)
            oracle.collect_hashes(q, oracle.normalised_hash(q))
        groups.append(g.stats())
        m[f"queries.{name}_s"] = tr.total(f"queries.{name}")
        m[f"queries.{name}_shuffle_mb"] = groups[-1].sum("shuffle_write_mb")
    _spark_totals(m, groups)
    return m


# ---------------------------------------------------------------------------
# single-process replays


def _work_units(tables: dict, max_bytes: int) -> list[tuple[str, bytes]]:
    """One (media_ref, bytes) per distinct image content the OCR stage
    computes: referenced, present, within the size guard."""
    from mcp_ocr_server_spark.plans.pipeline import explode_spans

    refs = (
        explode_spans(tables["docs"]).filter(F.col("kind") == "image")
        .select("media_ref").distinct()
    )
    media = tables["media"].join(refs, "media_ref").filter(
        F.length("bytes") <= max_bytes
    )
    reps = media.groupBy(F.sha2("bytes", 256).alias("h")).agg(
        F.min("media_ref").alias("media_ref")
    )
    return [
        (r["media_ref"], bytes(r["bytes"]))
        for r in reps.join(media, "media_ref").select("media_ref", "bytes").collect()
    ]


def replay_kernels(tables: dict, tr: Tracer) -> dict:
    """Each distinct work unit through the OCR stage's chain, timed per
    function: decode, analyze, each preprocessing step, recognize."""
    from mcp_ocr_server_spark.imaging.analyzer import analyze, apply_step
    from mcp_ocr_server_spark.imaging.codecs import decode_image
    from mcp_ocr_server_spark.ocr.engine import get_engine

    cfg = _job()
    engine = get_engine(cfg.ocr)
    calls = dict.fromkeys(REPLAY_KERNELS, 0)
    for _ref, data in _work_units(tables, cfg.ocr.max_image_size):
        with tr.span("codecs.decode"):
            img = decode_image(data)
        calls["codecs.decode"] += 1
        with tr.span("analyzer.analyze"):
            steps = analyze(img, cfg.preprocessing).suggested_pipeline
        calls["analyzer.analyze"] += 1
        for step in steps:
            k = _STEP_KERNEL.get(step, "kernels.other")
            with tr.span(k):
                img = apply_step(img, step, cfg.preprocessing)
            calls[k] += 1
        with tr.span("ocr.recognize"):
            engine.recognize(img)
        calls["ocr.recognize"] += 1
    m = {}
    for k in REPLAY_KERNELS:
        m[f"{k}_s"] = tr.total(k)
        m[f"{k}.calls"] = calls[k]
    return m


def replay_html(tables: dict, tr: Tracer) -> dict:
    from mcp_ocr_server_spark.functions.text_extract import extract_batch
    from mcp_ocr_server_spark.plans.pipeline import explode_spans

    texts = [
        r["text"] for r in explode_spans(tables["docs"])
        .filter(F.col("kind") == "html").select("text").collect()
    ]
    with tr.span("text_extract.html"):
        extract_batch(texts)
    return {
        "text_extract.html_s": tr.total("text_extract.html"),
        "text_extract.html_docs": len(texts),
    }


def replay_pdf(tables: dict, tr: Tracer) -> dict:
    from mcp_ocr_server_spark.functions.pdf import pdf_text_row
    from mcp_ocr_server_spark.plans.pipeline import explode_spans

    refs = (
        explode_spans(tables["docs"]).filter(F.col("kind") == "pdf")
        .select("media_ref").distinct()
    )
    pdfs = tables["pdfs"].join(refs, "media_ref")
    units = (
        pdfs.groupBy(F.sha2("bytes", 256).alias("h"))
        .agg(F.min("media_ref").alias("media_ref"))
        .join(pdfs, "media_ref").select("media_ref", "bytes").collect()
    )
    fallback = 0
    for r in units:
        with tr.span("pdf.parse"):
            row = pdf_text_row(r["media_ref"], bytes(r["bytes"]), ocr_cfg=_job())
        fallback += row["error"] is None and row["confidence"] != 100.0
    return {
        "pdf.parse_s": tr.total("pdf.parse"),
        "pdf.docs": len(units),
        "pdf.ocr_fallback_docs": fallback,
    }


def layer_metrics(spark, workload, inputs, tr: Tracer, cores: int,
                  untraced_job_s: float) -> tuple[dict, dict]:
    """Run the workload's traced job and replays.  Returns (metrics,
    not_measured) where not_measured maps each metric reported as 0 to
    the reason it could not be measured on this workload."""
    m: dict = {
        "session.start_s": tr.total("session.start"),
        "session.warmup_s": tr.total("session.warmup"),
    }
    name = workload.name
    tables, hint = {}, None
    if name != "curate_docs":
        from mcp_ocr_server_spark.sources.tables import table_size_bytes

        tables = workload.tables(spark, inputs)
        hint = table_size_bytes(spark, inputs.path("media"))
    tr.new_trace("traced-job")
    with tr.span("job"):
        if name == "extract_cold":
            m.update(extract_phases(spark, tables, inputs.props, tr, cores, hint))
        elif name == "checkpoint_interleaved":
            m.update(checkpoint_job(spark, workload, inputs, tr)[0])
        else:
            m.update(curate_job(spark, workload, inputs, tr))
    m["trace.job_s"] = tr.total("job")
    m["trace.overhead_s"] = m["trace.job_s"] - untraced_job_s

    if name == "checkpoint_interleaved":
        # the pipeline's layers, cut into phases over the same corpus
        # (outside the traced job: the checkpoint loop cannot be cut
        # without changing the program)
        tr.new_trace("extract-phases")
        with tr.span("extract_phases"):
            phases = extract_phases(
                spark, tables, inputs.props, tr, cores, hint
            )
        for k, v in phases.items():
            m.setdefault(k, v)  # spark.* and sources.* stay the job's
    pdf_tables = tables if "pdfs" in tables else None
    if name == "extract_cold":
        # the write path and the pdf branch, on the four-kind corpus
        # of the same seed: extract_cold's own corpus has neither
        from .workloads import CheckpointInterleaved

        ck = CheckpointInterleaved(workload.work_dir)
        ck_inputs = ck.inputs(spark, inputs.seed, os.path.dirname(inputs.dir))
        tr.new_trace("checkpoint")
        ck_m, _store = checkpoint_job(spark, ck, ck_inputs, tr)
        m.update({k: v for k, v in ck_m.items() if k.startswith("checkpoint.")})
        pdf_tables = ck.tables(spark, ck_inputs)
    tr.new_trace("replay")
    if tables:
        m.update(replay_kernels(tables, tr))
        m.update(replay_html(tables, tr))
    if pdf_tables:
        m.update(replay_pdf(pdf_tables, tr))
    replay_s = sum(m.get(f"{k}_s", 0.0) for k in REPLAY_KERNELS)
    busy = m.get("media_ocr.busy_s", 0.0)
    m["trace.replay_over_busy"] = replay_s / busy if busy else 0.0

    not_measured = {}
    for k in PER_LAYER:
        if k not in m:
            m[k] = 0.0
            not_measured[k] = _why_not(name, k)
    return m, not_measured


def _why_not(workload: str, metric: str) -> str:
    layer = metric.split(".")[0]
    if workload == "curate_docs":
        return f"curate_docs runs no {layer} code (only queries.py)"
    if layer == "queries":
        return f"{workload} runs no registry query"
    return "not exercised by this workload"
