"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The unit tests run in seconds.  The smoke tests (``-m smoke`` selects
only them) run every workload end to end at tiny sizes, with and
without tracing; each pays a Spark start, so they take a few minutes.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import pytest

from perfbench import inputs as I
from perfbench import oracle, run
from perfbench import workloads as W
from perfbench.spec import END_TO_END, PER_LAYER, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------------------
# BENCHMARK.json matches the metric registry and the contract's limits


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_spec():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)
    assert 2 <= len(b["workloads"]) <= 8
    e2e = {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]}
    assert e2e == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == PER_LAYER
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    for m in b["end_to_end"] + b["per_layer"]:
        assert name.match(m["name"]) and unit.match(m["unit"])
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200


# ---------------------------------------------------------------------------
# oracles


def test_failed_rows_counts_each_differing_row():
    want = Counter({11: 1, 12: 1, 13: 1})
    assert oracle.failed_rows(Counter(want), want) == 0
    altered = Counter({11: 1, 12: 1, 99: 1})  # one row's hash changed
    assert oracle.failed_rows(altered, want) == 1
    assert oracle.failed_rows(Counter({11: 1}), want) == 2  # rows missing
    assert oracle.failed_rows(want + Counter({11: 1}), want) == 1  # duplicate


def _curate_with_oracle(types: dict, hashes: Counter) -> W.CurateDocs:
    w = W.CurateDocs(work_dir="")
    w.oracle = {name: (types, hashes) for name in w.chain}
    return w


def test_curate_column_truncated_to_integer_fails_every_row():
    want_types = {"doc_id": "bigint", "n_trigrams": "bigint", "logprob": "double"}
    rows = Counter({1: 1, 2: 1, 3: 1})
    w = _curate_with_oracle(want_types, rows)
    same = {name: (dict(want_types), Counter(rows)) for name in w.chain}
    assert w.check(None, None, same) == 0
    # the hashes match (say the values truncate cleanly), the type does not
    truncated = dict(same, lm_score=(dict(want_types, logprob="bigint"), Counter(rows)))
    assert w.check(None, None, truncated) == 3
    assert w.examples[0]["query"] == "lm_score"


class _Raises:
    """A workload whose check must never run: its job raised."""

    def attempted(self, inputs):
        return 7

    def check(self, spark, inputs, out):
        return 0 if out == "ok" else 1


def test_job_that_raises_counts_all_rows_failed():
    reps = [{"error": "Traceback", "out": None}, {"error": None, "out": "ok"}]
    assert run.count_failed(_Raises(), None, None, reps) == 7


# ---------------------------------------------------------------------------
# inputs


def test_documents_are_seeded_and_keep_the_duplicate_share():
    a = I.documents_frame(3, 4000)
    assert a.equals(I.documents_frame(3, 4000))
    assert not a["text"].equals(I.documents_frame(4, 4000)["text"])
    assert list(a.columns) == ["doc_id", "text", "lang", "source", "n_chars"]
    near = a["text"].str.endswith(" dup").mean()
    exact = 1 - a["text"].nunique() / len(a)
    assert 0.04 < near < 0.06
    assert exact < 0.005  # no quadratic blow-up from row replication


def test_missing_package_exits_nonzero_without_result(tmp_path, capsys):
    os.makedirs(tmp_path / "perfbench")
    # run.main resolves the package relative to its own file; point it
    # at an empty checkout instead
    old = run.ROOT
    run.ROOT = str(tmp_path)
    try:
        rc = run.main(["--workload", "extract_cold", "--seed", "1",
                       "--seconds", "1", "--trace", "0"])
    finally:
        run.ROOT = old
    assert rc != 0
    assert capsys.readouterr().out == ""


# ---------------------------------------------------------------------------
# smoke: every metric emitted with its unit, for every workload


@pytest.fixture
def smoke_sizes(monkeypatch):
    monkeypatch.setattr(I, "EXTRACT_DOCS", 24)
    monkeypatch.setattr(I, "EXTRACT_POOL_DOCS", 48)
    monkeypatch.setattr(I, "EXTRACT_MEDIA", 16)
    monkeypatch.setattr(I, "CHECKPOINT_DOCS", 16)
    monkeypatch.setattr(I, "CURATE_DOCS", 300)


def _result(capsys) -> dict:
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.smoke
@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_every_metric_emitted(workload, trace, smoke_sizes, capsys):
    rc = run.main(["--workload", workload, "--seed", "5", "--seconds",
                   "0.1", "--trace", str(trace)])
    assert rc == 0
    res = _result(capsys)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    spec = PER_LAYER if trace else END_TO_END
    assert set(res["metrics"]) == set(spec)
    for k, v in res["metrics"].items():
        assert v["unit"] == spec[k][0]
        assert isinstance(v["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.smoke
def test_smoke_altered_span_is_counted(smoke_sizes, monkeypatch, capsys):
    from pyspark.sql import functions as F

    real = W.ExtractCold.run_extract

    def altered(self, spark, inputs):
        res = real(self, spark, inputs)
        first = (F.col("doc_id") == "doc-0000000000") & (F.col("order") == 0)
        res.spans = res.spans.withColumn(
            "text", F.when(first, F.lit("tampered")).otherwise(F.col("text"))
        )
        return res

    monkeypatch.setattr(W.ExtractCold, "run_extract", altered)
    rc = run.main(["--workload", "extract_cold", "--seed", "5",
                   "--seconds", "0.1", "--trace", "0"])
    assert rc == 0
    res = _result(capsys)
    assert not res["correct"]
    assert res["failed"] == run.MIN_REPS  # one altered row per rep


@pytest.mark.smoke
@pytest.mark.parametrize("truncate", ["cast_to_bigint", "floor_as_double"])
def test_smoke_truncated_query_column_is_counted(truncate, smoke_sizes,
                                                 monkeypatch, capsys):
    from pyspark.sql import functions as F

    real = W.CurateDocs.query

    def truncated(self, spark, inputs, name):
        df = real(self, spark, inputs, name)
        if name != "lm_score":
            return df
        col = (F.col("logprob").cast("bigint") if truncate == "cast_to_bigint"
               else F.floor("logprob").cast("double"))
        return df.withColumn("logprob", col)

    monkeypatch.setattr(W.CurateDocs, "query", truncated)
    rc = run.main(["--workload", "curate_docs", "--seed", "5",
                   "--seconds", "0.1", "--trace", "0"])
    assert rc == 0
    res = _result(capsys)
    assert not res["correct"]
    assert res["failed"] > 0
