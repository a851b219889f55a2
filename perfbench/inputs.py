"""Seeded workload inputs, materialised once per (workload, size, seed,
``CORPUS_VERSION``) into a cache directory next to the oracle outputs.

Nothing here runs inside ``setup_s`` or a timed job: the benchmark
builds (or loads) inputs after set-up and before the first timed
repetition.  The program only ever receives the generated tables.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

# sizes per workload; a benchmark run cannot afford the 2400-doc
# sizing corpus (see README.md "Sizes")
EXTRACT_DOCS = 240
# extract_cold draws its docs from a larger pool of the same generator
# so that every seed OCRs the same number of distinct images and of
# blurry ones (see _stratified_docs)
EXTRACT_POOL_DOCS = 720
EXTRACT_MEDIA = 160
EXTRACT_UNITS = 80
EXTRACT_BLURRY = 6
CHECKPOINT_DOCS = 80
CHECKPOINT_BUCKETS = 2
CHECKPOINT_P_PDF = 0.2
CURATE_DOCS = 1000

# the token vocabulary, language mix, near-duplicate rate and source
# count of the sf0.1 `documents` table the registry queries were
# written against
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.412, 0.151, 0.149, 0.148, 0.140)
_NEAR_DUP = 0.05
_N_SOURCES = 20


@dataclass
class Inputs:
    seed: int
    dir: str
    props: dict

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _cached(cache_root: str, key: str, build) -> str:
    """Return ``cache_root/key``, building it with ``build(tmp_dir)``
    first if it is missing.  The directory appears atomically."""
    final = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(final, "props.json")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def _load(seed: int, d: str) -> Inputs:
    with open(os.path.join(d, "props.json")) as fh:
        return Inputs(seed, d, json.load(fh))


# ---------------------------------------------------------------------------
# interleaved corpus (extract_cold, checkpoint_interleaved)


def corpus_config(workload: str, seed: int):
    from mcp_ocr_server_spark.sources import synthetic as S

    if workload == "extract_cold":
        return S.CorpusConfig(
            seed=seed, n_docs=EXTRACT_POOL_DOCS, n_media=EXTRACT_MEDIA
        )
    return S.CorpusConfig(
        seed=seed, n_docs=CHECKPOINT_DOCS, p_pdf=CHECKPOINT_P_PDF
    )


def _stratified_docs(cfg, ocr: dict[str, tuple[bytes, str]]) -> list[int]:
    """EXTRACT_DOCS doc indices of the pool ``cfg`` whose distinct OCR'd
    images are exactly EXTRACT_BLURRY blurry ones and EXTRACT_UNITS -
    EXTRACT_BLURRY others, where the pool has them.  ``ocr`` maps each
    media_ref the OCR stage would compute to (bytes, degradation).

    The OCR stage's time is set by a heavy tail: one blurry image
    (nl-means) costs several clean ones.  Left to chance, 240 docs hold
    4 to 15 blurry images and the job time follows (5.2 s to 7.4 s over
    nine seeds), swamping any change the benchmark should see.  So the
    first pass walks the pool in seed order and takes each doc whose new
    images fit both quotas, until both are full; the second fills the
    remaining slots, again in seed order, with docs that bring no new
    image.  The documents, texts and images still come from the seed."""
    from mcp_ocr_server_spark.sources import synthetic as S

    quota = {True: EXTRACT_BLURRY, False: EXTRACT_UNITS - EXTRACT_BLURRY}
    units: dict[bool, set[str]] = {True: set(), False: set()}
    new_units: list[dict[bool, set[str]]] = []
    for i in range(cfg.n_docs):
        refs = {s["media_ref"] for s in S.doc_item(cfg, i)[1]
                if s["kind"] == "image" and s["media_ref"] in ocr}
        new_units.append({b: {r for r in refs if (ocr[r][1] == "blurry") == b}
                          for b in units})
    chosen: set[int] = set()
    for i, refs in enumerate(new_units):
        if all(len(units[b]) == quota[b] for b in units):
            break
        new = {b: refs[b] - units[b] for b in units}
        if any(new.values()) and all(
            len(units[b]) + len(new[b]) <= quota[b] for b in units
        ):
            chosen.add(i)
            for b in units:
                units[b] |= new[b]
    for i, refs in enumerate(new_units):
        if len(chosen) >= EXTRACT_DOCS:
            break
        if all(refs[b] <= units[b] for b in units):
            chosen.add(i)
    return sorted(chosen)[:EXTRACT_DOCS]


def corpus_inputs(spark, workload: str, seed: int, cache_root: str) -> Inputs:
    from mcp_ocr_server_spark.config import FIXTURE_JOB
    from mcp_ocr_server_spark.sources import synthetic as S

    cfg = corpus_config(workload, seed)
    key = (f"{workload}-n{cfg.n_docs}-m{cfg.media_universe}-s{seed}"
           f"-v{S.CORPUS_VERSION}")

    def build(d: str) -> None:
        S.media_df(spark, cfg).write.parquet(os.path.join(d, "media"))
        max_bytes = FIXTURE_JOB.ocr.max_image_size
        ocr = {
            r["media_ref"]: (bytes(r["bytes"]), r["degradation"])
            for r in spark.read.parquet(os.path.join(d, "media"))
            .select("media_ref", "bytes", "degradation").collect()
            if len(r["bytes"]) <= max_bytes
        }
        ids = (
            _stratified_docs(cfg, ocr) if workload == "extract_cold"
            else list(range(cfg.n_docs))
        )
        docs = [S.doc_item(cfg, i) for i in ids]
        spark.createDataFrame(
            [(doc_id, [(s["kind"], s["text"], s["media_ref"], s["offset"])
                       for s in spans]) for doc_id, spans in docs],
            S.DOCS_SCHEMA,
        ).write.parquet(os.path.join(d, "docs"))
        tables = ["docs", "media"]
        if cfg.p_pdf > 0:
            S.pdf_df(spark, cfg).write.parquet(os.path.join(d, "pdfs"))
            tables.append("pdfs")
        _goldens(spark, cfg, ids, FIXTURE_JOB).write.parquet(
            os.path.join(d, "golden")
        )
        props = corpus_props(cfg, docs, ocr)
        props["input_mb"] = sum(
            _dir_bytes(os.path.join(d, t)) for t in tables
        ) / 1e6
        with open(os.path.join(d, "props.json"), "w") as fh:
            json.dump(props, fh, indent=1, sort_keys=True)

    return _load(seed, _cached(cache_root, key, build))


def _goldens(spark, cfg, ids: list[int], job):
    """``synthetic.expected_rows`` for the chosen docs, computed in
    parallel (``synthetic.expected_df`` covers only a whole corpus)."""
    from mcp_ocr_server_spark.sources import synthetic as S

    cols = ["doc_id", "order", "kind", "media_ref", "text", "confidence",
            "language", "error_code"]

    def gen(batches):
        for b in batches:
            rows = [r for i in b["id"] for r in S.expected_rows(cfg, job, int(i))]
            yield pd.DataFrame(rows, columns=cols)

    return (
        spark.createDataFrame([(i,) for i in ids], "id long")
        .repartition(8)
        .mapInPandas(gen, schema=S.EXPECTED_SCHEMA)
    )


def corpus_props(cfg, docs: list, ocr: dict[str, tuple[bytes, str]]) -> dict:
    """Input properties the pipeline's behaviour depends on.  ``ocr``
    as for _stratified_docs."""
    import hashlib
    from collections import Counter

    from mcp_ocr_server_spark.sources import synthetic as S

    spans = [s for _, ss in docs for s in ss]
    kinds = Counter(s["kind"] for s in spans)
    images = [s["_j"] for s in spans if s["kind"] == "image"]
    ocr_refs = [S.media_ref(j) for j in images if S.media_ref(j) in ocr]
    units = {
        r: hashlib.sha256(ocr[r][0]).hexdigest() for r in set(ocr_refs)
    }
    n_units = len(set(units.values()))
    return {
        "n_docs": len(docs),
        "spans": len(spans),
        "spans_by_kind": dict(kinds),
        "image_spans_present": sum(S.media_exists(cfg, j) for j in images),
        "image_spans_ocr": len(ocr_refs),
        "distinct_work_units": n_units,
        "blurry_work_units": len({h for r, h in units.items() if ocr[r][1] == "blurry"}),
        "duplicate_share": 1 - n_units / len(ocr_refs) if ocr_refs else 0.0,
        "pdf_share": kinds["pdf"] / len(spans) if spans else 0.0,
        # expected_rows yields one golden row per input span
        "golden_rows": len(spans),
    }


# ---------------------------------------------------------------------------
# documents table (curate_docs)


def documents_frame(seed: int, n: int) -> pd.DataFrame:
    """A `documents` table with the shape of sf0.1's: uniform 10-100
    tokens over a 30-word vocabulary, sf0.1's language mix, source =
    doc_id mod 20, and 5% near-duplicates (another doc's text plus
    " dup").  Exact duplicates arise only where two near-duplicates
    copy the same doc, so their share (≈0.13%) does not grow with n,
    unlike naive row replication."""
    rng = np.random.default_rng([seed, 0x5EED])
    lens = rng.integers(10, 101, n)
    texts = [
        " ".join(_VOCAB[k] for k in rng.integers(0, len(_VOCAB), m))
        for m in lens
    ]
    dup = rng.random(n) < _NEAR_DUP
    bases = np.flatnonzero(~dup)
    for i in np.flatnonzero(dup):
        texts[i] = texts[int(bases[rng.integers(0, len(bases))])] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % _N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def documents_inputs(seed: int, cache_root: str) -> Inputs:
    key = f"curate_docs-n{CURATE_DOCS}-s{seed}"

    def build(d: str) -> None:
        df = documents_frame(seed, CURATE_DOCS)
        path = os.path.join(d, "documents.parquet")
        df.to_parquet(path, index=False)
        props = {
            "n_docs": CURATE_DOCS,
            "exact_duplicate_share": 1 - df["text"].nunique() / len(df),
            "near_duplicate_share": float(df["text"].str.endswith(" dup").mean()),
            "tokens_mean": float(df["text"].str.count(" ").mean() + 1),
            "input_mb": os.path.getsize(path) / 1e6,
        }
        with open(os.path.join(d, "props.json"), "w") as fh:
            json.dump(props, fh, indent=1, sort_keys=True)

    return _load(seed, _cached(cache_root, key, build))


def curate_oracles(inputs: Inputs, chain) -> dict[str, int]:
    """Each query's DuckDB oracle over the documents table, written once
    per seed next to it as ``oracle_<name>.parquet``.  Returns the row
    count of each."""
    import duckdb

    from mcp_ocr_server_spark import queries as Q

    con = duckdb.connect()
    try:
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('"
            + inputs.path("documents.parquet") + "')"
        )
        rows = {}
        for name in chain:
            out = inputs.path(f"oracle_{name}.parquet")
            if not os.path.exists(out):
                con.sql(
                    f"COPY ({Q.QUERIES[name][1]}) TO '{out}.tmp' (FORMAT PARQUET)"
                )
                os.replace(out + ".tmp", out)
            rows[name] = con.sql(
                f"SELECT count(*) FROM read_parquet('{out}')"
            ).fetchone()[0]
        return rows
    finally:
        con.close()

