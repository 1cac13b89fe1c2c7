"""The benchmark's own fast tests, at tiny input sizes (one Spark session,
about two minutes on four cores):

    python3 -m pytest perfbench/ -q -p no:cacheprovider

- every metric BENCHMARK.json names is printed with its unit, in the
  untraced and in the traced run of each listed workload;
- a planted wrong answer is caught by each workload's check and counted
  as a failure;
- the same seed gives identical inputs, another seed different ones.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import harness  # noqa: E402
import ingest  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import serve  # noqa: E402

TINY = {"ingest": {"n_pages": 2_000, "warmup": 0, "min_passes": 1},
        "serve": {"n_pages": 2_000, "warmup": 0, "min_blocks": 2}}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run._isolate(str(tmp_path_factory.mktemp("work")))
    from lib_gdal_spark.session import get_spark

    s = get_spark("perfbench-test", cores=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    run._stop(s)


def _measure(spark, tmp_path, workload, traced=False, seconds=0.5):
    return run.measure(spark, workload, seed=5, seconds=seconds, traced=traced,
                       work=str(tmp_path / workload), cores=2,
                       start=(1.0, 1.0), **TINY[workload])


def _bench(spark, tmp_path, seed=5):
    return harness.Bench(spark, seed=seed, seconds=0.5, traced=False,
                         work=str(tmp_path), cores=2)


def _listed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------- metrics and units

@pytest.mark.parametrize("workload", [w["name"] for w in _listed()["workloads"]])
def test_every_listed_metric_is_printed_with_its_unit(spark, tmp_path, workload):
    spec = _listed()
    b, result, layers = _measure(spark, tmp_path, workload)
    assert layers is None
    assert result["failed"] == 0, result["errors"]
    e2e = run.e2e_metrics(b, result)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: v["unit"] for k, v in e2e.items()}
    assert all(v["value"] > 0 for v in e2e.values())

    b, result, layers = _measure(spark, tmp_path, workload, traced=True)
    assert result["failed"] == 0, result["errors"]
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: v["unit"] for k, v in layers.items()}
    assert all(np.isfinite(v["value"]) for v in layers.values())
    assert any(sp["traced"] and "engine" in sp for sp in b.tracer.spans)


def test_benchmark_json_lists_the_harness_metrics():
    spec = _listed()
    assert {m["name"] for m in spec["end_to_end"]} == set(run.E2E)
    assert {m["name"] for m in spec["per_layer"]} == (
        set(run.PER_LAYER) | set(run.engine_metric_names()))
    for m in spec["end_to_end"]:
        assert (m["unit"], m["better"]) == run.E2E[m["name"]]
        assert 0 < m["bound"] <= 0.25


# ------------------------------------------------------ planted wrong answers

def test_ingest_check_catches_a_planted_wrong_answer(spark, tmp_path, monkeypatch):
    one_pass = ingest.Ingest.one_pass

    def wrong(self):
        res = one_pass(self)
        res["join_rows"] += 1
        return res

    monkeypatch.setattr(ingest.Ingest, "one_pass", wrong)
    result = ingest.run(_bench(spark, tmp_path), **TINY["ingest"])
    assert result["failed"] == result["attempted"] >= 1
    assert "join rows" in result["errors"][0]


def test_ingest_check_catches_a_wrong_pyramid(spark, tmp_path):
    w = ingest.Ingest(_bench(spark, tmp_path), TINY["ingest"]["n_pages"], 0)
    res = w.one_pass()
    assert w.check(dict(res)) == []
    w.expected_tiles[3] += 1
    assert any("pyramid" in e for e in w.check(dict(res)))


def test_serve_check_catches_a_planted_wrong_answer(spark, tmp_path, monkeypatch):
    call = serve.Serve.call

    def wrong(self, kind, p):
        ans = call(self, kind, p)
        if kind == "curate":
            return {**ans, "curated_urls": ans["curated_urls"][1:]}
        return [*ans, ans[0]] if ans else [(0, 0, 0)]

    monkeypatch.setattr(serve.Serve, "call", wrong)
    result = serve.run(_bench(spark, tmp_path), **TINY["serve"])
    assert result["failed"] == result["attempted"] >= 1


def test_serve_checks_each_request_type(spark, tmp_path):
    w = serve.Serve(_bench(spark, tmp_path), TINY["serve"]["n_pages"], 0)
    for j, kind in enumerate(serve.KINDS):
        rec = w.request(j, kind)
        assert w.check(rec) == [], kind
        if kind == "curate":
            rec["answer"]["curated_urls"] = rec["answer"]["curated_urls"][:-1]
        elif kind == "knn":
            rec["answer"][0] = rec["answer"][0][::-1]
        else:
            rec["answer"] = rec["answer"][1:] + [(-1, -1, -1)]
        assert w.check(rec), kind


def test_curate_input_has_duplicates_to_remove():
    pdf = inputs.with_duplicates(inputs.pages(1_000, 5), serve.DUP_FRAC, 5)
    want = inputs.curate_expected(pdf)
    assert want["kept"] - want["distinct_texts"] >= 200
    assert 0 < want["curated_rows"] < want["signature_rows"]


# ------------------------------------------------------------ seeded inputs

def test_same_seed_same_inputs():
    a, b, c = inputs.pages(500, 7), inputs.pages(500, 7), inputs.pages(500, 8)
    assert a.equals(b)
    assert not a["text"].equals(c["text"])
    d1 = inputs.with_duplicates(a, 0.25, 7)
    d2 = inputs.with_duplicates(b, 0.25, 7)
    assert d1.equals(d2)


def test_any_seed_makes_inputs():
    # the page generator overflows on seeds of 2^29 and more unless folded
    for seed in (0, 2 ** 31 + 5, 2 ** 64 + 3, -7):
        pdf = inputs.pages(20, seed)
        assert len(pdf) == 20 and pdf["text"].str.contains("@").all()


def test_same_seed_same_request_stream(spark, tmp_path):
    ws = [serve.Serve(_bench(spark, tmp_path / str(k), seed=s),
                      TINY["serve"]["n_pages"], 0) for k, s in enumerate((7, 7, 8))]

    def stream(w):
        out = []
        for i in range(10):
            kind, p = w.params(i)
            out.append((kind, repr({k: (v.to_dict() if hasattr(v, "to_dict") else v)
                                    for k, v in p.items()})))
        return out

    assert stream(ws[0]) == stream(ws[1])
    assert stream(ws[0]) != stream(ws[2])
    kinds = [k for k, _ in stream(ws[0])]
    assert sorted(kinds[:5]) == sorted(serve.KINDS)  # each type once per block

