"""Benchmark-side tests: seeded inputs and result checks. No Spark session.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import inputs
from perfbench.checks import RegistryOracle, SearchOracle
from perfbench.workloads import MIX, Bench


def _contents(d: str) -> dict:
    out = {}
    for name in sorted(os.listdir(d)):
        path = os.path.join(d, name)
        if name.endswith(".parquet"):
            out[name] = pq.read_table(path).to_pylist()
        elif name.endswith(".json"):
            out[name] = json.load(open(path))
    return out


@pytest.fixture(scope="module")
def ingest_inputs(tmp_path_factory):
    return inputs.ensure_inputs(str(tmp_path_factory.mktemp("a")), "ingest_mixed", 7)


@pytest.fixture(scope="module")
def mix_inputs(tmp_path_factory):
    return inputs.ensure_inputs(str(tmp_path_factory.mktemp("m")), "analytics_mix", 7)


@pytest.mark.parametrize("workload", ["ingest_mixed", "analytics_mix"])
def test_same_seed_same_inputs(tmp_path, workload, ingest_inputs, mix_inputs):
    first = ingest_inputs if workload == "ingest_mixed" else mix_inputs
    again = inputs.ensure_inputs(str(tmp_path), workload, 7)
    assert _contents(again) == _contents(first)
    other = inputs.ensure_inputs(str(tmp_path), workload, 8)
    assert _contents(other) != _contents(first)


def test_every_query_band_present(ingest_inputs):
    queries = json.load(open(f"{ingest_inputs}/manifest.json"))["queries"]
    # every band within any window of four consecutive queries
    for start in range(0, len(queries) - 3, 4):
        assert {q["band"] for q in queries[start : start + 4]} == set(inputs.BAND_ORDER)
    vocab = {t for row in pq.read_table(f"{ingest_inputs}/docs.parquet").column("text").to_pylist() for t in row.split()}
    for q in queries:
        terms = q["query"].split()
        assert 1 <= len(terms) <= 5
        if q["band"] == "oov":
            assert not vocab & set(terms)
        if q["band"] == "head":
            assert set(terms) <= vocab


def test_perturbed_search_result_counts_as_failure(ingest_inputs):
    docs = pq.read_table(f"{ingest_inputs}/docs.parquet").slice(0, 300)
    oracle = SearchOracle()
    oracle.set_live(docs)
    query = json.load(open(f"{ingest_inputs}/manifest.json"))["queries"][0]["query"]
    expected = oracle.expected(query)
    assert len(expected) == 10
    b = Bench(None, ingest_inputs, "", 1.0, None)
    b.check(list(expected) == oracle.expected(query), "unchanged")
    rank, doc_id, title, score = expected[3]
    perturbed = expected[:3] + [(rank, doc_id, title, round(score + 1e-6, 6))] + expected[4:]
    b.check(perturbed == oracle.expected(query), "perturbed score")
    b.check(expected[:9] == oracle.expected(query), "missing hit")
    assert (b.attempted, b.failures) == (3, ["perturbed score", "missing hit"])


def test_perturbed_registry_result_counts_as_failure(mix_inputs):
    from big_data_assignment2_spark.registry import build_registry

    oracle = RegistryOracle(mix_inputs)
    sql = build_registry().oracles()["q1_pricing_summary"]
    expected = oracle.con.execute(sql).df()
    assert set(MIX) <= set(build_registry().oracles())
    b = Bench(None, mix_inputs, "", 1.0, None)
    b.check(oracle.mismatch(expected.copy(), sql) is None, "unchanged")
    perturbed = expected.copy()
    col = next(c for c in perturbed.columns if perturbed[c].dtype.kind == "f")
    perturbed.loc[0, col] += 0.01
    b.check(oracle.mismatch(perturbed, sql) is None, "perturbed value")
    b.check(oracle.mismatch(expected.iloc[1:], sql) is None, "missing row")
    assert (b.attempted, b.failures) == (3, ["perturbed value", "missing row"])


def test_request_metric_takes_each_requests_fastest_repeat():
    from types import SimpleNamespace

    from perfbench.run import best_p50_ms

    reqs = [SimpleNamespace(key=k, ms=ms) for k, ms in [("a", 900), ("b", 200), ("a", 100), ("c", 300), ("b", 250)]]
    # fastest repeats: a 100, b 200, c 300
    assert best_p50_ms(reqs) == 200
    assert best_p50_ms([]) == 0.0
