"""The three workloads: inputs, the timed job, and its oracle check.

Each workload object is used in this order by ``run.py``::

    inputs = w.inputs(spark, seed, cache_root)   # untimed, cached
    w.prepare(spark, inputs)                     # untimed
    out = w.job(spark, inputs, rep)              # timed, once per rep
    failed = w.check(spark, inputs, out)         # untimed

``job`` returns only when the result is complete: every output row's
hash is collected (extract), the last watermark is committed
(checkpoint), or every query of the chain is forced by collecting its
rows' hashes (curate).
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

from . import inputs as I
from . import oracle
from .spec import CURATE_CHAIN


def _fixture_job():
    from mcp_ocr_server_spark.config import FIXTURE_JOB

    return FIXTURE_JOB


class _CorpusWorkload:
    """Shared by the two workloads over the interleaved corpus: goldens
    from ``expected_rows``, checked through per-row hashes."""

    name = ""

    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.golden_hashes = None
        self.examples: list[dict] = []

    def inputs(self, spark, seed: int, cache_root: str) -> I.Inputs:
        return I.corpus_inputs(spark, self.name, seed, cache_root)

    def n_docs(self, inputs: I.Inputs) -> int:
        return inputs.props["n_docs"]

    def attempted(self, inputs: I.Inputs) -> int:
        return inputs.props["golden_rows"]

    def tables(self, spark, inputs: I.Inputs) -> dict:
        t = {
            "docs": spark.read.parquet(inputs.path("docs")),
            "media": spark.read.parquet(inputs.path("media")),
        }
        if os.path.isdir(inputs.path("pdfs")):
            t["pdfs"] = spark.read.parquet(inputs.path("pdfs"))
        return t

    def prepare(self, spark, inputs: I.Inputs) -> None:
        self.golden = spark.read.parquet(inputs.path("golden"))
        self.golden_hashes = oracle.collect_hashes(
            self.golden, oracle.span_hash(self.golden)
        )

    def hashes(self, spark, out) -> Counter:
        raise NotImplementedError

    def output_spans(self, spark, inputs: I.Inputs, out):
        raise NotImplementedError

    def check(self, spark, inputs: I.Inputs, out) -> int:
        got = self.hashes(spark, out)
        failed = oracle.failed_rows(got, self.golden_hashes)
        if failed:
            spans = self.output_spans(spark, inputs, out)
            self.examples += oracle.examples(
                spans, oracle.span_hash(spans), got - self.golden_hashes,
                "output",
            ) + oracle.examples(
                self.golden, oracle.span_hash(self.golden),
                self.golden_hashes - got, "golden",
            )
        return failed


class ExtractCold(_CorpusWorkload):
    """``plans.pipeline.extract`` over the interleaved text + html +
    image corpus: no memo, no write."""

    name = "extract_cold"

    def prepare(self, spark, inputs: I.Inputs) -> None:
        """Goldens, plus one untimed pass of the job at full size: set-up's
        six-doc warm-up leaves the first full-size pass 10-20 % slower
        than later ones.  The pass costs one more ``job_s`` per run."""
        from mcp_ocr_server_spark.sources.tables import table_size_bytes

        super().prepare(spark, inputs)
        self.hint = table_size_bytes(spark, inputs.path("media"))
        self.job(spark, inputs, rep=-1)

    def run_extract(self, spark, inputs: I.Inputs):
        from mcp_ocr_server_spark.plans.pipeline import extract

        t = self.tables(spark, inputs)
        return extract(t["docs"], t["media"], _fixture_job(),
                       total_media_bytes=self.hint)

    def job(self, spark, inputs: I.Inputs, rep: int) -> Counter:
        spans = self.run_extract(spark, inputs).spans
        return oracle.collect_hashes(spans, oracle.span_hash(spans))

    def hashes(self, spark, out) -> Counter:
        return out

    def output_spans(self, spark, inputs: I.Inputs, out):
        # the job kept only hashes: recompute the rows to report them
        return self.run_extract(spark, inputs).spans


class CheckpointInterleaved(_CorpusWorkload):
    """``plans.checkpoint.run_checkpointed`` into a fresh store over the
    four-kind corpus (pdf sidecar included), several buckets."""

    name = "checkpoint_interleaved"

    def store_dir(self, rep: int) -> str:
        return os.path.join(self.work_dir, f"store-{rep}")

    def job(self, spark, inputs: I.Inputs, rep: int):
        from mcp_ocr_server_spark.plans.checkpoint import (
            CheckpointStore, run_checkpointed,
        )

        d = self.store_dir(rep)
        shutil.rmtree(d, ignore_errors=True)
        t = self.tables(spark, inputs)
        store = CheckpointStore(d)
        run_checkpointed(
            spark, t["docs"], t["media"], store, _fixture_job(),
            n_buckets=I.CHECKPOINT_BUCKETS, run_id=f"rep-{rep}",
            pdfs=t.get("pdfs"),
        )
        return store

    def hashes(self, spark, out) -> Counter:
        spans = out.spans_df(spark)
        return oracle.collect_hashes(spans, oracle.span_hash(spans))

    def output_spans(self, spark, inputs: I.Inputs, out):
        return out.spans_df(spark)


class CurateDocs:
    """A fixed chain of ``queries.QUERIES`` entries over the documents
    table; each result forced with a full-row hash.  No imaging or OCR
    runs, so kernel changes are predicted not to move it."""

    name = "curate_docs"
    chain = CURATE_CHAIN

    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        # per query: (column types, row hashes) of its DuckDB oracle
        self.oracle: dict[str, tuple[dict, Counter]] = {}
        self.examples: list[dict] = []

    def inputs(self, spark, seed: int, cache_root: str) -> I.Inputs:
        return I.documents_inputs(seed, cache_root)

    def n_docs(self, inputs: I.Inputs) -> int:
        return inputs.props["n_docs"]

    def attempted(self, inputs: I.Inputs) -> int:
        return sum(inputs.props["oracle_rows"].values())

    def query(self, spark, inputs: I.Inputs, name: str):
        from mcp_ocr_server_spark import queries as Q

        return Q.QUERIES[name][0](spark, inputs.dir)

    def oracle_df(self, spark, inputs: I.Inputs, name: str):
        return spark.read.parquet(inputs.path(f"oracle_{name}.parquet"))

    def prepare(self, spark, inputs: I.Inputs) -> None:
        """Run the DuckDB oracles while one untimed pass of the chain
        warms its plans, which set-up's warm-up extract does not touch
        (the first pass takes twice as long as later ones); then hash
        each oracle's rows under its own parquet types."""
        with ThreadPoolExecutor(max_workers=1) as pool:
            oracles = pool.submit(I.curate_oracles, inputs, self.chain)
            self.job(spark, inputs, rep=-1)
            inputs.props["oracle_rows"] = oracles.result()
        for name in self.chain:
            want = self.oracle_df(spark, inputs, name)
            self.oracle[name] = (
                oracle.dtypes(want),
                oracle.collect_hashes(want, oracle.normalised_hash(want)),
            )

    def job(self, spark, inputs: I.Inputs, rep: int) -> dict:
        from mcp_ocr_server_spark import queries as Q

        Q.clear_caches(spark)  # every pass is cold and isolated
        out = {}
        for name in self.chain:
            df = self.query(spark, inputs, name)
            out[name] = (
                oracle.dtypes(df),
                oracle.collect_hashes(df, oracle.normalised_hash(df)),
            )
        return out

    def check(self, spark, inputs: I.Inputs, out) -> int:
        """Per query: a column set or type that differs from the
        oracle's fails every row (the parity test rejects it outright);
        otherwise the rows whose hashes differ fail."""
        failed = 0
        for name in self.chain:
            types, got = out[name]
            want_types, want = self.oracle[name]
            if types != want_types:
                failed += max(sum(got.values()), sum(want.values()))
                self.examples.append({"query": name, "dtypes": types,
                                      "oracle_dtypes": want_types})
                continue
            bad = oracle.failed_rows(got, want)
            if bad:
                df = self.query(spark, inputs, name)
                ref = self.oracle_df(spark, inputs, name)
                self.examples += [
                    {"query": name, **ex} for ex in
                    oracle.examples(df, oracle.normalised_hash(df),
                                    got - want, "output")
                    + oracle.examples(ref, oracle.normalised_hash(ref),
                                      want - got, "oracle")
                ]
            failed += bad
        return failed


WORKLOADS = {
    w.name: w for w in (ExtractCold, CheckpointInterleaved, CurateDocs)
}
