#!/usr/bin/env python3
"""Extraction benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload extract_cold --seed 1 \\
        --seconds 6 --trace 0

Order of a run:

1. set-up (``setup_s``): from process start until the SparkSession is
   up at ``local[nproc]`` and one tiny warm-up ``extract`` has finished;
2. inputs: the workload's seeded tables and oracle outputs, built once
   per seed and cached under ``.perfbench/cache`` in the checkout;
3. timed repetitions of the workload's job until ``--seconds`` have
   passed (at least ``MIN_REPS``); ``job_s`` and ``peak_rss_mb`` are
   their medians;
4. the oracle check of every repetition's output.

With ``--trace 1`` the run then executes one traced job plus the
single-process replays and prints the per-layer metrics instead of the
end-to-end ones.  The last line of stdout is the JSON result; run
details (input properties, load averages, failing rows, spans) go to
stderr and to ``.perfbench/records``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "mcp_ocr_server_spark"
# timed repetitions per run at the least: a single repetition right
# after the warm pass swings with how far the JVM's JIT has got
# (see README.md "Sizes and repetitions")
MIN_REPS = 2


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"perfbench [{time.monotonic() - _T0:7.2f}s]: {msg}",
          file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def sandbox(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        + " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # a fixed 2 GB heap: with the package's 8 GB default the JVM's
    # resident size wanders between runs (3.3-5.0 GB on one workload)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"


def warmup(spark) -> None:
    """A tiny extract (text, html and image spans) from driver-side
    rows: Python workers spawned, UDF paths imported, codegen done."""
    from mcp_ocr_server_spark.config import FIXTURE_JOB
    from mcp_ocr_server_spark.plans.pipeline import extract
    from mcp_ocr_server_spark.sources import synthetic as S

    from perfbench import oracle

    cfg = S.CorpusConfig(seed=0, n_docs=6)
    docs = [S.doc_item(cfg, i) for i in range(cfg.n_docs)]
    js = sorted({s["_j"] for _, ss in docs for s in ss if s["kind"] == "image"})
    res = extract(
        spark.createDataFrame(
            [(d, [(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in ss]) for d, ss in docs],
            S.DOCS_SCHEMA,
        ),
        spark.createDataFrame(
            [S.media_item(cfg, j) for j in js if S.media_exists(cfg, j)],
            S.MEDIA_SCHEMA,
        ),
        FIXTURE_JOB,
    )
    oracle.collect_hashes(res.spans, oracle.span_hash(res.spans))


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, then wait until every
    child process (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    from perfbench.procmon import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        # a later session in this process launches a fresh JVM
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def timed_reps(workload, spark, inputs, seconds: float, tracer) -> list[dict]:
    """Repetitions until ``seconds`` have passed, MIN_REPS at least.
    Each records the share of CPU time the hypervisor stole during it,
    which explains a slow run on a shared host."""
    from perfbench.procmon import PeakRss, cpu_ticks, steal_share

    rss = PeakRss()
    reps: list[dict] = []
    t_end = time.monotonic() + seconds
    while True:
        rep = len(reps)
        tracer.new_trace(f"job-{rep}")
        out, error = None, None
        rss.start()
        ticks = cpu_ticks()
        t0 = time.monotonic()
        try:
            out = workload.job(spark, inputs, rep)
        except Exception:
            error = traceback.format_exc()
        job_s = time.monotonic() - t0
        steal = steal_share(ticks)
        peak_mb = rss.stop()
        reps.append(dict(job_s=job_s, peak_rss_mb=peak_mb, steal=steal,
                         out=out, error=error))
        log(f"rep {rep}: job_s={job_s:.3f} peak_rss_mb={peak_mb:.1f} "
            f"steal={steal:.3f}" + (" RAISED" if error else ""))
        if error:
            log(error)
        if len(reps) >= MIN_REPS and time.monotonic() >= t_end:
            return reps


def count_failed(workload, spark, inputs, reps: list[dict]) -> int:
    """Failed output rows over all reps: rows differing from the
    oracle, or every row a rep attempted when its job raised."""
    return sum(
        workload.attempted(inputs) if r["error"]
        else workload.check(spark, inputs, r["out"])
        for r in reps
    )


def parse_args(argv):
    from perfbench.spec import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import procmon

    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE} package next to perfbench/ in {ROOT}")
        return 2
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", str(os.getpid()))
    sandbox(work)
    load_start = procmon.load_average()

    from perfbench.spec import END_TO_END, PER_LAYER
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    from mcp_ocr_server_spark.config import FIXTURE_JOB
    from mcp_ocr_server_spark.session import get_spark

    tracer = Tracer(args.trace == 1)
    n = cores()
    with tracer.span("session.start"):
        spark = get_spark("perfbench", f"local[{n}]", FIXTURE_JOB,
                          shuffle_partitions=max(n, 8))
        spark.sparkContext.setLogLevel("ERROR")
    try:
        t_warm = time.monotonic()
        with tracer.span("session.warmup"):
            warmup(spark)
        setup_s = procmon.process_age_s()
        log(f"setup_s={setup_s:.3f} (warm-up {time.monotonic() - t_warm:.3f})")

        w = WORKLOADS[args.workload](work)
        inputs = w.inputs(spark, args.seed, os.path.join(state, "cache"))
        log(f"inputs {json.dumps(inputs.props, sort_keys=True)}")
        w.prepare(spark, inputs)
        log("prepared")
        reps = timed_reps(w, spark, inputs, args.seconds, tracer)
        failed = count_failed(w, spark, inputs, reps)
        attempted = w.attempted(inputs) * len(reps)
        log("checked")
        job_s = statistics.median(r["job_s"] for r in reps)
        e2e = {
            "setup_s": setup_s,
            "job_s": job_s,
            "docs_per_s": w.n_docs(inputs) / job_s,
            "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in reps),
        }
        not_measured = {}
        if args.trace:
            from perfbench.layers import layer_metrics

            values, not_measured = layer_metrics(
                spark, w, inputs, tracer, n, job_s
            )
            spec = PER_LAYER
        else:
            values, spec = e2e, END_TO_END
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": n, "load_avg_start": load_start,
        "load_avg_end": procmon.load_average(), "inputs": inputs.props,
        "reps_job_s": [r["job_s"] for r in reps],
        "reps_steal": [r["steal"] for r in reps], "end_to_end": e2e,
        "failed_rows": failed, "attempted_rows": attempted,
        "failed_frac": failed / attempted, "failing_examples": w.examples,
        "not_measured": not_measured,
        "per_layer": values if args.trace else None,
    }
    records = os.path.join(state, "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        tracer.dump(stem + ".trace.json")
    log(f"load avg start={load_start} end={record['load_avg_end']}")
    log(f"failed_frac={record['failed_frac']} ({failed}/{attempted} rows)")
    for ex in w.examples:
        log(f"failing row: {json.dumps(ex, default=str)}")
    for k, why in not_measured.items():
        log(f"not measured: {k}: {why}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": values[k], "unit": unit}
            for k, (unit, _better) in spec.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
