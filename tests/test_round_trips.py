"""Plan construction cost: py4j round trips per serve-sized call, and the
memo of built Columns (session.built) that keeps them low.

Each budget is the count measured when it was set plus 10 %: every
``F.*`` call or Column method is one round trip, so a fixed expression
rebuilt per call shows up here as hundreds of them."""

import os
import subprocess
import sys
import textwrap

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as em
from lib_gdal_spark import session
from lib_gdal_spark.operators import knn, relevance, sjoin
from lib_gdal_spark.pages.synth import synth_pages_pdf
from lib_gdal_spark.plans import curate

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BM25_BUDGET = 91  # 83 measured; 1,318 with every expression rebuilt per call
KNN_BUDGET = 62  # 56; 280
CURATE_BUDGET = 281  # 256; 1,678


@pytest.fixture(scope="module")
def docs(spark):
    words = ["alpha", "beta", "gamma", "delta", "river", "stone", "cloud"]
    rng = np.random.default_rng(3)
    text = [" ".join(rng.choice(words, 12)) for _ in range(200)]
    return spark.createDataFrame(pd.DataFrame(
        {"doc_id": np.arange(200, dtype=np.int64), "text": text}))


def _warm_count(py4j_calls, fn):
    fn()  # first-use lookups and the memo's first build are not per-call cost
    return py4j_calls(fn)


class TestRoundTrips:
    def test_bm25_topk_py4j_budget(self, docs, py4j_calls):
        rows, calls = _warm_count(py4j_calls, lambda: relevance.bm25_topk(
            docs, ["river", "stone", "cloud"], 10).collect())
        assert len(rows) == 10
        assert calls <= BM25_BUDGET, calls

    def test_knn_brute_py4j_budget(self, spark, py4j_calls):
        rng = np.random.default_rng(5)
        targets = spark.createDataFrame(pd.DataFrame({
            "tid": np.arange(2000, dtype=np.int64),
            "tx": rng.uniform(0, 100, 2000), "ty": rng.uniform(0, 100, 2000)})).cache()
        targets.count()
        q = spark.createDataFrame(pd.DataFrame({
            "qid": np.arange(10, dtype=np.int64),
            "qx": rng.uniform(0, 100, 10), "qy": rng.uniform(0, 100, 10)}))
        try:
            rows, calls = _warm_count(py4j_calls, lambda: knn.knn_ring(
                q, targets, 3, cell_size=8.0).collect())
        finally:
            targets.unpersist()
        assert len(rows) == 30
        assert calls <= KNN_BUDGET, calls

    def test_curate_py4j_budget(self, spark, py4j_calls):
        pdf = synth_pages_pdf(np.arange(300), seed=11)[["url", "text", "lang"]]
        seg = spark.createDataFrame(pdf, "url string, text string, lang string")
        rows, calls = _warm_count(py4j_calls, lambda: curate(seg).select("url").collect())
        assert len(rows) > 0
        assert calls <= CURATE_BUDGET, calls


class TestBuiltMemo:
    def test_bounded_by_call_shapes(self, spark, docs):
        """Fifty calls with distinct request values add nothing to the
        memo after the first: it is keyed on column names and small
        ints, never on a request's terms or points."""
        rng = np.random.default_rng(9)
        words = ["alpha", "beta", "gamma", "delta", "river", "stone", "cloud"]
        polys = em._rect_polyset()

        def pip(i):
            q = spark.createDataFrame(pd.DataFrame({
                "url": [f"q{j}" for j in range(20)],
                "lon": rng.uniform(-90, 170, 20), "lat": rng.uniform(-60, 70, 20)}))
            return sjoin.spatial_join(q, polys, zoom=7)

        def bm25(i):
            # distinct lists of one length: the fold is keyed on the count
            return relevance.bm25_topk(docs, [*rng.choice(words, 2, replace=False),
                                              f"w{i}"], 5)

        try:
            for call in (pip, bm25):
                call(0).collect()
                size = len(session._BUILT)
                for i in range(1, 50):
                    df = call(i)
                    if i % 10 == 0:
                        df.collect()
                assert len(session._BUILT) == size, call.__name__
        finally:
            spark.catalog.clearCache()  # bm25 persists one frame per term list

    def test_restart_rebuilds(self, tmp_path):
        """After spark.stop() and a new session, a spatial join and a
        bm25 call run on freshly built Columns and return the same rows;
        the one PolygonSet held across the restart rebuilds its relations
        instead of reusing the stopped context's. In a child process:
        stopping this process's session would end every later test's."""
        script = textwrap.dedent(f"""
            import sys
            sys.path.insert(0, {ROOT!r})
            import numpy as np
            import pandas as pd
            import __spark_entry__ as em
            from lib_gdal_spark import session
            from lib_gdal_spark.operators import relevance, sjoin

            polys = em._rect_polyset()

            def run(spark):
                rng = np.random.default_rng(1)
                q = spark.createDataFrame(pd.DataFrame({{
                    "url": [f"q{{j}}" for j in range(200)],
                    "lon": rng.uniform(-90, 170, 200),
                    "lat": rng.uniform(-60, 70, 200)}}))
                docs = spark.createDataFrame(pd.DataFrame({{
                    "doc_id": np.arange(50, dtype=np.int64),
                    "text": [" ".join(["river", "stone"][: 1 + i % 2] * (1 + i % 5))
                             for i in range(50)]}}))
                pip = sorted(tuple(r) for how in ("inner", "union") for r in sjoin.spatial_join(
                    q, polys, zoom=7, how=how).select("url", "poly_id").collect())
                top = [tuple(r) for r in relevance.bm25_topk(docs, ["river", "stone"], 5).collect()]
                return pip, top, dict(session._BUILT), dict(polys._rels)

            spark = session.get_spark("restart", cores=2, shuffle_partitions=2)
            before = run(spark)
            spark.stop()
            spark = session.get_spark("restart", cores=2, shuffle_partitions=2)
            after = run(spark)
            assert before[0] == after[0] and len(before[0]) > 0
            assert before[1] == after[1] and len(before[1]) == 5
            assert before[2].keys() == after[2].keys()
            assert all(before[2][k] is not after[2][k] for k in before[2])
            assert before[3].keys() == after[3].keys() == {{7, None}}
            assert all(before[3][k] is not after[3][k] for k in before[3])
            spark.stop()
            print("restart ok")
        """)
        env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
        out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                             capture_output=True, text=True, timeout=600)
        assert "restart ok" in out.stdout, out.stderr[-3000:]
