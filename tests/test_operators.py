"""Operator tests: kNN, raster ops, dedup, similarity, textops, polygonize,
multimodal plumbing, metrics, streaming — each against an independent oracle
(brute force, pandas, or an invariant).
"""

import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame, functions as F

from lib_gdal_spark.operators import (
    dedup, knn, multimodal, ogrsql, polygonize, raster, similarity, textops,
)
from lib_gdal_spark import metrics
from lib_gdal_spark.streaming import events as ev


# ------------------------------------------------------------------- kNN
def _jobs(spark, fn):
    """(fn's result, number of Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _knn_frames(spark, q, t, cache=True):
    queries = spark.createDataFrame(pd.DataFrame(
        {"qid": np.arange(len(q)), "qx": q[:, 0], "qy": q[:, 1]}))
    targets = spark.createDataFrame(pd.DataFrame(
        {"tid": np.arange(len(t)), "tx": t[:, 0], "ty": t[:, 1]}))
    return (queries.cache(), targets.cache()) if cache else (queries, targets)


def _knn_oracle(q, t, k):
    """(qid, tid, rank) rows by (dist, tid), NumPy brute force with the
    engine's distance expression."""
    tid = np.arange(len(t))
    rows = []
    for i, (x, y) in enumerate(q):
        d = np.sqrt((x - t[:, 0]) * (x - t[:, 0]) + (y - t[:, 1]) * (y - t[:, 1]))
        for r, j in enumerate(np.lexsort((tid, d))[:k]):
            rows.append((i, int(j), r + 1))
    return sorted(rows)


def _rows(df):
    return sorted((int(r.qid), int(r.tid), int(r.rank))
                  for r in df.select("qid", "tid", "rank").collect())


class TestKNN:
    @pytest.fixture(scope="class")
    def pts(self, spark):
        rng = np.random.default_rng(42)
        # clustered + sparse so ring expansion needs >1 round (FIXTURES §4)
        dense = rng.normal(0, 1, (400, 2))
        sparse = rng.uniform(-50, 50, (40, 2))
        t = np.vstack([dense, sparse])
        q = rng.uniform(-40, 40, (30, 2))
        return _knn_frames(spark, q, t)

    def test_ring_matches_bruteforce(self, pts):
        # the ring helper itself, not the dispatch (these cached inputs
        # are under the pair budget, so knn_ring would run brute force)
        queries, targets = pts
        bf = knn.knn_bruteforce(queries, targets, k=3).toPandas()
        rg = knn._knn_rings(queries, targets, k=3, cell_size=1.0).toPandas()
        bf = bf.sort_values(["qid", "rank"]).reset_index(drop=True)
        rg = rg.sort_values(["qid", "rank"]).reset_index(drop=True)
        assert len(bf) == len(rg) == 90
        pd.testing.assert_frame_equal(
            bf[["qid", "tid", "rank"]], rg[["qid", "tid", "rank"]]
        )
        np.testing.assert_allclose(bf.dist.to_numpy(), rg.dist.to_numpy(), rtol=1e-12)

    @pytest.mark.parametrize("cache", [True, False])
    def test_small_request_is_one_pass(self, spark, monkeypatch, cache):
        # local (createDataFrame from pandas) or cached inputs know their
        # row counts: Q x T = 10 x 2000 is under the budget -> brute force,
        # no ring round, no localCheckpoint
        rng = np.random.default_rng(3)
        q, t = rng.uniform(0, 10, (10, 2)), rng.uniform(0, 10, (2000, 2))
        queries, targets = _knn_frames(spark, q, t, cache)
        if cache:
            queries.count()
            targets.count()
        checkpoints = []
        monkeypatch.setattr(DataFrame, "localCheckpoint",
                            lambda *a, **kw: checkpoints.append(1))
        monkeypatch.setattr(knn, "_knn_rings", None)
        out = knn.knn_ring(queries, targets, k=3, cell_size=1.0)
        rows, jobs = _jobs(spark, lambda: _rows(out))
        assert checkpoints == []
        assert rows == _knn_oracle(q, t, 3)
        assert jobs <= 3

    def test_unknown_sizes_take_the_ring(self, spark, tmp_path, monkeypatch):
        rng = np.random.default_rng(4)
        q, t = rng.uniform(0, 10, (10, 2)), rng.uniform(0, 10, (200, 2))
        queries, targets = _knn_frames(spark, q, t, cache=False)
        targets.write.parquet(str(tmp_path / "t"))
        targets = spark.read.parquet(str(tmp_path / "t"))
        calls = []
        ring = knn._knn_rings
        monkeypatch.setattr(knn, "_knn_rings",
                            lambda *a, **kw: calls.append(1) or ring(*a, **kw))
        out = knn.knn_ring(queries, targets, k=3, cell_size=1.0)
        assert calls == [1]
        assert _rows(out) == _knn_oracle(q, t, 3)

    @pytest.mark.parametrize("path", ["bruteforce", "ring"])
    @pytest.mark.parametrize("case", ["equidistant", "k_gt_targets",
                                      "duplicate_points"])
    def test_exact_edge_cases(self, spark, path, case):
        if case == "equidistant":
            # 4 targets at distance 1 around each query: ties break on tid
            q = np.array([[0.0, 0.0], [5.0, 5.0]])
            t = np.array([[1.0, 0.0], [0.0, -1.0], [-1.0, 0.0], [0.0, 1.0],
                          [6.0, 5.0], [5.0, 4.0], [4.0, 5.0], [5.0, 6.0]])
            k = 3
        elif case == "k_gt_targets":
            q = np.array([[0.0, 0.0], [2.0, 1.0]])
            t = np.array([[1.0, 1.0], [3.0, 0.5], [-1.0, 2.0]])
            k = 5
        else:
            q = np.array([[0.0, 0.0], [3.0, 3.0]])
            t = np.array([[1.0, 1.0], [1.0, 1.0], [2.0, 2.0], [2.0, 2.0],
                          [1.0, 1.0]])
            k = 4
        queries, targets = _knn_frames(spark, q, t)
        if path == "ring":
            out = knn._knn_rings(queries, targets, k, cell_size=0.5,
                                 max_rounds=6)
        else:
            out = knn.knn_bruteforce(queries, targets, k)
        assert _rows(out) == _knn_oracle(q, t, k)

    def test_no_cache_growth(self, spark, monkeypatch):
        # a long-lived session serves repeated requests: none may leave a
        # persisted RDD or a driver broadcast behind
        from pyspark import SparkContext

        jsc = spark.sparkContext._jsc
        rng = np.random.default_rng(6)
        t = rng.uniform(0, 10, (1000, 2))
        _, targets = _knn_frames(spark, t[:1], t)
        targets.count()
        # earlier tests' local checkpoints are released by the context
        # cleaner at GC time, possibly during this test: check that no
        # persistent RDD is added, not that the count stays equal
        before = set(jsc.getPersistentRDDs().keys())
        broadcasts = []
        bc = SparkContext.broadcast
        monkeypatch.setattr(SparkContext, "broadcast",
                            lambda self, v: broadcasts.append(1) or bc(self, v))
        for _ in range(3):
            queries = spark.createDataFrame(pd.DataFrame(
                {"qid": np.arange(5), "qx": rng.uniform(0, 10, 5),
                 "qy": rng.uniform(0, 10, 5)}))
            knn.knn_ring(queries, targets, k=2, cell_size=1.0).collect()
        assert set(jsc.getPersistentRDDs().keys()) <= before
        assert broadcasts == []

    @pytest.mark.parametrize("fn", [knn.knn_ring, knn.knn_bruteforce])
    def test_bad_k_refused(self, pts, fn):
        queries, targets = pts
        kw = {"cell_size": 1.0} if fn is knn.knn_ring else {}
        with pytest.raises(ValueError, match="k >= 1"):
            fn(queries, targets, 0, **kw)


# ---------------------------------------------------------------- raster
SQUARE = lambda x0, y0, s: np.array(
    [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]], float
)


class TestRaster:
    def test_rasterize_replace_and_add(self, spark):
        polys = [(1, [SQUARE(0, 0, 4)]), (2, [SQUARE(2, 2, 4)])]  # overlap 2x2
        rep = raster.rasterize(spark, polys, {1: 10.0, 2: 20.0}, cell_size=1.0).toPandas()
        add = raster.rasterize(spark, polys, {1: 10.0, 2: 20.0}, cell_size=1.0,
                               merge_alg="ADD").toPandas()
        assert len(rep) == len(add) == 16 + 16 - 4
        # overlap cells: REPLACE keeps later feature (poly 2), ADD sums
        ov = rep[(rep.bx >= 2) & (rep.bx < 4) & (rep.by >= 2) & (rep.by < 4)]
        assert (ov.value == 20.0).all()
        ov2 = add[(add.bx >= 2) & (add.bx < 4) & (add.by >= 2) & (add.by < 4)]
        assert (ov2.value == 30.0).all()

    def test_rasterize_all_touched_superset(self, spark):
        tri = [(1, [np.array([[0.2, 0.2], [3.8, 0.6], [1.0, 3.5], [0.2, 0.2]])])]
        center = raster.rasterize(spark, tri, {1: 1.0}, cell_size=1.0).count()
        touched = raster.rasterize(spark, tri, {1: 1.0}, cell_size=1.0,
                                   all_touched=True).count()
        assert touched > center  # ALL_TOUCHED burns strictly more cells here

    def test_zonal_stats(self, spark):
        pdf = pd.DataFrame({
            "zone": [1, 1, 1, 2, 2, 2, 2],
            "value": [1.0, 2.0, 2.0, 5.0, 5.0, 5.0, 7.0],
        })
        cells = spark.createDataFrame(pdf)
        out = raster.zonal_stats(
            cells, stats=("count", "sum", "mean", "min", "max", "stdev",
                          "variance", "unique", "mode", "minority")
        ).toPandas().set_index("zone").sort_index()
        assert out.loc[1, "count"] == 3 and out.loc[2, "count"] == 4
        assert out.loc[1, "mode"] == 2.0 and out.loc[1, "minority"] == 1.0
        assert out.loc[2, "mode"] == 5.0 and out.loc[2, "minority"] == 7.0
        assert out.loc[1, "mean"] == pytest.approx(5.0 / 3)
        assert out.loc[1, "variance"] == pytest.approx(np.var([1, 2, 2]))

    def test_overview_kernels(self, spark):
        # 4x4 grid, values = bx
        g = [(bx, by, float(bx)) for bx in range(4) for by in range(4)]
        cells = spark.createDataFrame(pd.DataFrame(g, columns=["bx", "by", "value"]))
        avg = raster.overview(cells, "average").toPandas().set_index(["bx", "by"]).sort_index()
        assert avg.loc[(0, 0), "value"] == pytest.approx(0.5)  # mean(0,0,1,1)
        assert avg.loc[(1, 1), "value"] == pytest.approx(2.5)
        near = raster.overview(cells, "near").toPandas()
        assert len(near) == 4
        s = raster.overview(cells, "sum").toPandas().set_index(["bx", "by"]).sort_index()
        assert s.loc[(0, 0), "value"] == pytest.approx(2.0)

    def test_histogram(self, spark):
        cells = spark.createDataFrame(
            pd.DataFrame({"value": [0.5, 0.5, 100.2, 255.9]})
        )
        h = raster.histogram(cells).toPandas().set_index("bucket")
        assert h.loc[1, "n"] == 2 and h.loc[101, "n"] == 1 and h.loc[256, "n"] == 1


# ----------------------------------------------------------------- dedup
class TestDedup:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [
            (0, "the quick brown fox jumps over the lazy dog near the river bank"),
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
            (2, "the quick brown fox jumps over the lazy dog near the river shore"),  # near dup
            (3, "completely different text about spark distributed query engines"),
            (4, "another unrelated document mentioning tile pyramids and mercator math"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string").cache()

    def test_exact_dedup(self, docs):
        out = dedup.exact_dedup(docs, "doc_id", "text")
        ids = {r.doc_id for r in out.collect()}
        assert ids == {0, 2, 3, 4}

    def test_minhash_near_dup(self, docs):
        out = dedup.minhash_dedup(docs, "doc_id", "text", threshold=0.5,
                                  n_hashes=8, bands=4)
        ids = {r.doc_id for r in out.collect()}
        assert 0 in ids and 1 not in ids  # exact dup caught
        assert 2 not in ids  # near dup caught at 0.5 threshold
        assert {3, 4} <= ids

    def test_jaccard_exactness(self, spark, docs):
        pairs = spark.createDataFrame([(0, 1), (0, 3)], "id_a long, id_b long")
        j = dedup.ngram_jaccard(docs, pairs, "doc_id", "text").toPandas()
        j = j.set_index(["id_a", "id_b"]).jaccard
        assert j.loc[(0, 1)] == pytest.approx(1.0)
        assert j.loc[(0, 3)] == pytest.approx(0.0)

    def test_simhash_near_dup(self, docs):
        sh = dedup.simhash(docs, "doc_id", "text")
        pairs = dedup.simhash_dup_pairs(sh, "doc_id", max_hamming=3).toPandas()
        got = {(r.id_a, r.id_b) for r in pairs.itertuples()}
        assert (0, 1) in got  # identical text -> identical simhash


# ------------------------------------------------------------ similarity
class TestSimilarity:
    @pytest.fixture(scope="class")
    def vecs(self, spark):
        rng = np.random.default_rng(42)
        v = rng.normal(0, 1, (300, 16)).astype(np.float32)
        corpus = spark.createDataFrame(
            pd.DataFrame({"vec_id": np.arange(300), "embedding": list(map(list, v))}),
            schema="vec_id long, embedding array<float>",
        )
        q = v[:5] + rng.normal(0, 0.05, (5, 16)).astype(np.float32)
        queries = spark.createDataFrame(
            pd.DataFrame({"qid": np.arange(5), "embedding": list(map(list, q))}),
            schema="qid long, embedding array<float>",
        )
        return corpus.cache(), queries.cache()

    def test_bruteforce_topk(self, vecs):
        corpus, queries = vecs
        out = similarity.cosine_topk(corpus, queries, k=1).toPandas()
        # each query is a noisy copy of corpus vec i -> top1 must be i
        assert (out.sort_values("qid").vec_id.to_numpy() == np.arange(5)).all()
        assert (out.cos > 0.95).all()

    def test_ann_lsh_recall(self, vecs):
        corpus, queries = vecs
        exact = similarity.cosine_topk(corpus, queries, k=5).toPandas()
        approx = similarity.ann_lsh(corpus, queries, k=5, n_tables=6, n_bits=6).toPandas()
        e = exact.groupby("qid").vec_id.apply(set)
        a = approx.groupby("qid").vec_id.apply(set)
        recall = np.mean([len(e[q] & a.get(q, set())) / 5 for q in e.index])
        assert recall >= 0.6  # approximate, but must be useful


# --------------------------------------------------------------- textops
class TestTextops:
    def test_token_count_and_quality(self, spark):
        df = spark.createDataFrame(
            [(0, "The quick brown fox."), (1, ""), (2, "a b c d e f g h")],
            "id long, text string",
        )
        out = textops.quality_score(textops.token_count(df)).toPandas().set_index("id")
        assert out.loc[0, "n_tokens"] == 4
        assert out.loc[1, "n_tokens"] == 0
        assert 0 <= out.loc[0, "quality"] <= 1

    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [
                (0, "the cat and the dog walked to the house in the morning"),
                (1, "der hund und die katze sind nicht in das haus mit zu"),
                (2, "xyzzy plugh qwfp"),
            ],
            "id long, text string",
        )
        out = textops.lang_id(df).toPandas().set_index("id")
        assert out.loc[0, "lang_pred"] == "en"
        assert out.loc[1, "lang_pred"] == "de"
        assert out.loc[2, "lang_pred"] == "und"

    def test_corpus_clean_stages(self, spark):
        # each stage visibly removes its target: low-quality (1), wrong
        # lang (2), repetitive boilerplate (3), exact dup (5 of 4),
        # near-dup (7 of 6); good English docs survive
        good = ("the quick brown fox jumped over the lazy dog while the "
                "morning sun rose over the quiet house and the old cat "
                "watched from the garden wall with great patience")
        other = ("a small boat drifted down the wide river as children "
                 "played near the shore and fishermen pulled their nets "
                 "from the cold water before the storm arrived that night")
        rows = [
            (0, good),
            (1, "x"),                                    # low quality
            (2, "der hund und die katze sind nicht in das haus mit zu "
                "und der morgen war noch sehr ruhig in dem garten"),
            (3, "spam ham " * 60),                       # repetitive
            (4, other),
            (5, other),                                  # exact dup of 4
            (6, other.replace("storm", "rain")),         # near-dup of 4
            (7, "the engineers tested the new bridge for many months "
                "and wrote careful reports about the load limits and "
                "the weather conditions during each of the trials"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = sorted(r.doc_id for r in textops.corpus_clean(
            df, min_quality=0.5, langs=("en",), max_repetition=0.5,
            neardup_threshold=0.8).select("doc_id").collect())
        assert 0 in out and 4 in out and 7 in out
        assert 1 not in out and 2 not in out and 3 not in out
        assert 5 not in out                      # exact dup dropped
        assert 6 not in out                      # near-dup of 4 dropped

    def test_fingerprint_normalization(self, spark):
        df = spark.createDataFrame(
            [(0, "Hello,   World!"), (1, "hello world"), (2, "other text")],
            "id long, text string",
        )
        fp = textops.fingerprint(df).toPandas().set_index("id").fp
        assert fp[0] == fp[1] != fp[2]


# -------------------------------------------------------------- ogr sql
class TestOgrSql:
    def test_first_match_left_join(self, spark):
        left = spark.createDataFrame([(1,), (2,), (3,)], "k int")
        right = spark.createDataFrame(
            [(1, 10), (1, 11), (2, 20)], "k int, fid int"
        )
        out = ogrsql.first_match_left_join(left, right, "k", "k", "fid").toPandas()
        out = out.sort_values("k").reset_index(drop=True)
        assert len(out) == 3  # exactly one row per left row
        assert out.fid.tolist()[:2] == [10, 20]
        assert pd.isna(out.fid.iloc[2])  # unmatched keeps NULL

    def test_summary_record_exact_moments(self, spark):
        vals = [1.1, 2.2, 3.3, 4.4, 100.001]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        out = ogrsql.summary_record(df, "v").toPandas().iloc[0]
        assert out["count_v"] == 5
        assert out["sum_v"] == pytest.approx(sum(vals), abs=1e-9)
        assert out["stddev_pop_v"] == pytest.approx(np.std(vals), rel=1e-12)
        assert out["stddev_samp_v"] == pytest.approx(np.std(vals, ddof=1), rel=1e-12)


# ----------------------------------------------------------- polygonize
class TestPolygonize:
    def test_components_across_blocks(self, spark):
        # two L-shaped regions of value 1 spanning the 32-cell block border,
        # plus a separate region of value 2
        cells = []
        for bx in range(28, 40):  # crosses block boundary at 32 (block_bits=5)
            cells.append((bx, 10, 1.0))
        for by in range(10, 20):
            cells.append((50, by, 1.0))  # disjoint vertical strip, same value
        for bx in range(5, 8):
            cells.append((bx, 5, 2.0))
        df = spark.createDataFrame(pd.DataFrame(cells, columns=["bx", "by", "value"]))
        out = polygonize.polygonize(df, block_bits=5).toPandas()
        horiz = out[(out.by == 10) & (out.value == 1.0) & (out.bx < 45)]
        assert horiz.region_id.nunique() == 1  # stitched across the block edge
        assert out[out.value == 1.0].region_id.nunique() == 2  # strip is separate
        assert out[out.value == 2.0].region_id.nunique() == 1
        # 4-connectedness: diagonal-only contact must NOT merge
        diag = spark.createDataFrame(
            pd.DataFrame([(0, 0, 1.0), (1, 1, 1.0)], columns=["bx", "by", "value"])
        )
        dout = polygonize.polygonize(diag, block_bits=5).toPandas()
        assert dout.region_id.nunique() == 2


# ----------------------------------------------------------- multimodal
class TestMultimodal:
    def test_plumbing(self, spark):
        media = multimodal.synth_media(spark, 50)
        feats = multimodal.extract_features(media, dim=8).toPandas()
        assert len(feats) == 50
        assert feats.ok.all()
        assert all(len(f) == 8 for f in feats.feat)
        # deterministic: same payload -> same features
        again = multimodal.extract_features(multimodal.synth_media(spark, 50), dim=8).toPandas()
        a = feats.sort_values("id").reset_index(drop=True)
        b = again.sort_values("id").reset_index(drop=True)
        assert all(np.allclose(x, y) for x, y in zip(a.feat, b.feat))

    def test_real_decode_unknown_format_raises(self):
        # unknown formats still raise with the dependency note (JPEG is
        # no longer one of them — sources/jpeg.py decodes baseline
        # natively, so use an H.264/mp4 magic here instead)
        with pytest.raises(NotImplementedError):
            multimodal.decode_real(b"\x00\x00\x00\x18ftypmp42....", "video")
        # a truncated-but-recognized JPEG is invalid input, not an
        # unsupported codec: it surfaces the codec's own error
        with pytest.raises(ValueError):
            multimodal.decode_real(b"\xff\xd8\xff\xe0jpeg...", "image")

    def test_png_decodes_via_sources_codec(self):
        # stdlib zlib IS the PNG codec: the media path reuses
        # sources/png.py (reference goldens replayed in test_sources.py)
        from lib_gdal_spark.sources.png import encode_png

        img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
        arr, meta = multimodal.decode_real(encode_png(img))
        assert meta["codec"] == "png" and meta["color_type"] == 2
        np.testing.assert_array_equal(arr, img)

    def test_bmp_roundtrip_hand_golden(self):
        # 2x2 RGB image, hand-laid pixels; BMP is bottom-up BGR with
        # 4-byte row padding — decode must undo all three
        img = np.array([[[255, 0, 0], [0, 255, 0]],
                        [[0, 0, 255], [10, 20, 30]]], dtype=np.uint8)
        payload = multimodal.encode_bmp(img)
        assert payload[:2] == b"BM"
        arr, meta = multimodal.decode_real(payload)
        assert (meta["width"], meta["height"], meta["channels"]) == (2, 2, 3)
        np.testing.assert_array_equal(arr, img)

    def test_ppm_pgm_roundtrip(self):
        img = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
        arr, meta = multimodal.decode_real(multimodal.encode_ppm(img))
        assert meta["codec"] == "P6"
        np.testing.assert_array_equal(arr, img)
        gray = np.arange(12, dtype=np.uint8).reshape(3, 4)
        arr, meta = multimodal.decode_real(multimodal.encode_ppm(gray))
        assert meta["codec"] == "P5" and meta["channels"] == 1
        np.testing.assert_array_equal(arr, gray)

    def test_ppm_comment_header(self):
        img = np.full((2, 2, 3), 7, dtype=np.uint8)
        p = b"P6\n# a comment\n2 2\n255\n" + img.tobytes()
        arr, meta = multimodal.decode_real(p)
        np.testing.assert_array_equal(arr, img)

    def test_wav_roundtrip_hand_golden(self):
        s = np.array([[0, 100], [-100, 200], [32767, -32768]], dtype=np.int16)
        arr, meta = multimodal.decode_real(multimodal.encode_wav(s, rate=8000))
        assert (meta["rate"], meta["channels"], meta["bits"]) == (8000, 2, 16)
        np.testing.assert_array_equal(arr, s)

    def test_real_features_hand_golden(self, spark):
        # one 2x2 BMP with known pixels: feat = [w, h, c, mean, min, max, 0, 0]
        img = np.array([[[0, 0, 0], [0, 0, 0]],
                        [[0, 0, 0], [0, 0, 12]]], dtype=np.uint8)
        media = spark.createDataFrame(
            [(1, "image", bytearray(multimodal.encode_bmp(img)), None)],
            multimodal.MEDIA_SCHEMA)
        row = multimodal.extract_features(media, dim=8, codec="real").collect()[0]
        assert row.ok
        assert row.feat == [2.0, 2.0, 3.0, 1.0, 0.0, 12.0, 0.0, 0.0]

    def test_real_branch_over_synth_media(self, spark):
        feats = multimodal.extract_features(
            multimodal.synth_media_real(spark, 30), dim=8,
            codec="real").toPandas()
        assert len(feats) == 30 and feats.ok.all()
        # decoded dims are real, not hash noise: BMP/PPM rows carry
        # width = 4 + id%5 in feat[0]
        for _, r in feats.iterrows():
            if r.kind == "image":
                assert r.feat[0] == 4 + r.id % 5
                assert r.feat[2] == 3.0
            else:
                assert r.feat[1] == 1.0 or r.feat[2] == 8000.0

    def test_real_resize_hand_golden(self, spark):
        # 4x2 BMP -> 2x1: center-sampled nearest picks src col
        # floor((i+0.5)*4/2) = {1, 3}, src row floor(0.5*2/1) = 1
        img = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
        media = spark.createDataFrame(
            [(1, "image", bytearray(multimodal.encode_bmp(img)), None)],
            multimodal.MEDIA_SCHEMA)
        row = multimodal.resize_images(media, 2, 1, codec="real").collect()[0]
        arr, meta = multimodal.decode_real(bytes(row.payload))
        assert (meta["width"], meta["height"]) == (2, 1)
        np.testing.assert_array_equal(arr, img[[1]][:, [1, 3]])
        assert row.meta.width == 2 and row.meta.height == 1

    def test_real_resize_passthrough_on_compressed(self, spark):
        payload = bytearray(b"\xff\xd8\xff\xe0 jpeg")
        media = spark.createDataFrame(
            [(1, "image", payload, None)], multimodal.MEDIA_SCHEMA)
        row = multimodal.resize_images(media, 8, 8, codec="real").collect()[0]
        assert bytes(row.payload) == bytes(payload)  # untouched
        assert row.meta is None                      # meta untouched too

    def test_real_branch_honest_on_compressed(self, spark):
        media = spark.createDataFrame(
            [(1, "image", bytearray(b"\xff\xd8\xff\xe0 jpeg bytes"), None)],
            multimodal.MEDIA_SCHEMA)
        row = multimodal.extract_features(media, dim=8, codec="real").collect()[0]
        assert not row.ok and row.feat is None


# -------------------------------------------------------------- metrics
class TestMetrics:
    def test_record_counts_rows_and_appends(self, spark, tmp_path):
        from pyspark.sql.types import _parse_datatype_string

        df = spark.range(1000).withColumn("v", F.col("id") * 2).repartition(3)
        path = str(tmp_path / "m")
        m = metrics.record(df, "stage_a", path).toPandas()
        assert m.input_rows.sum() == 1000
        assert (m.stage == "stage_a").all()
        back = spark.read.parquet(path)
        assert back.schema == _parse_datatype_string(metrics.METRICS_SCHEMA)
        rows = back.toPandas()
        assert rows.input_rows.sum() == 1000 and (rows.stage == "stage_a").all()
        # (id long, v long): 16 fixed bytes a row
        assert rows.bytes.sum() == 16000
        # a second call appends to the table
        metrics.record(df.limit(10), "stage_b", path)
        rows = spark.read.parquet(path).toPandas()
        assert rows.groupby("stage").input_rows.sum().to_dict() == {
            "stage_a": 1000, "stage_b": 10}


# ------------------------------------------------------------ streaming
class TestStreaming:
    def test_stream_equals_batch(self, spark, tmp_path):
        # the file-stream source needs a directory; stage the parquet into one
        import shutil

        src_dir = tmp_path / "events_src"
        src_dir.mkdir()
        shutil.copy("/root/testdata/sf0.001/events.parquet", src_dir / "part-0.parquet")
        src = str(src_dir)
        batch = ev.windowed_counts_batch(spark.read.parquet(src)).toPandas()
        q = ev.windowed_counts_stream(spark, src, query_name="t_windows")
        try:
            q.processAllAvailable()
            got = spark.sql("SELECT * FROM t_windows").toPandas()
        finally:
            q.stop()
        b = batch.sort_values(["w_start", "event_type"]).reset_index(drop=True)
        g = got.sort_values(["w_start", "event_type"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(b, g, check_like=True)

    def test_sessionize(self, spark):
        rows = [
            (1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),
            (1, "2024-01-01 02:00:00"),  # gap > 30min -> new session
            (2, "2024-01-01 00:00:00"),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
            "ts", F.to_timestamp("ts")
        )
        out = ev.sessionize_batch(df).toPandas()
        assert len(out) == 3
        assert out[out.user_id == 1].n_events.sort_values().tolist() == [1, 2]


class TestStatefulStreaming:
    def test_dedup_stream_equals_batch_twin(self, spark, tmp_path):
        from lib_gdal_spark.streaming import stateful

        # 1000 docs, texts collide 1000 -> 300 distinct
        df = spark.range(1000).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("t"), (F.col("id") % 300).cast("string")).alias("text"),
        )
        src = tmp_path / "docs_src"
        src.mkdir()
        df.coalesce(1).write.mode("overwrite").parquet(str(src / "b0"))
        import shutil, glob, os
        for f in glob.glob(str(src / "b0" / "*.parquet")):
            shutil.move(f, str(src / os.path.basename(f)))
        shutil.rmtree(str(src / "b0"))

        q = stateful.dedup_stream(spark, str(src), query_name="t_dedup")
        try:
            q.processAllAvailable()
            got = spark.sql("SELECT * FROM t_dedup").toPandas()
        finally:
            q.stop()
        twin = stateful.dedup_batch_twin(
            spark.read.schema(stateful.DOCS_SCHEMA).parquet(str(src))
        ).toPandas()
        g = got.sort_values("h").reset_index(drop=True).astype("int64")
        t = twin.sort_values("h").reset_index(drop=True).astype("int64")
        assert len(g) == 300
        pd.testing.assert_frame_equal(g, t, check_like=True)

    def test_state_survives_across_batches(self, spark, tmp_path):
        from lib_gdal_spark.streaming import stateful

        src = tmp_path / "docs_inc"
        src.mkdir()

        def write_batch(name, rows):
            pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
            sdf = spark.createDataFrame(pdf, schema=stateful.DOCS_SCHEMA)
            tmp = tmp_path / f"_stage_{name}"
            sdf.coalesce(1).write.mode("overwrite").parquet(str(tmp))
            import glob, shutil
            f = glob.glob(str(tmp / "*.parquet"))[0]
            shutil.move(f, str(src / f"{name}.parquet"))
            shutil.rmtree(str(tmp))

        write_batch("b0", [(1, "aa"), (2, "bb"), (3, "aa")])
        q = stateful.dedup_stream(spark, str(src), query_name="t_dedup2")
        try:
            q.processAllAvailable()
            # second file arrives later: dupes of batch-0 content must NOT
            # re-emit (state store remembers across micro-batches)
            write_batch("b1", [(4, "aa"), (5, "cc"), (6, "bb")])
            q.processAllAvailable()
            got = spark.sql("SELECT doc_id FROM t_dedup2 ORDER BY doc_id").toPandas()
        finally:
            q.stop()
        assert got["doc_id"].tolist() == [1, 2, 5]


class TestMultimodalKernels:
    def test_resize_rewrites_image_meta(self, spark):
        from lib_gdal_spark.operators import multimodal as mm

        media = mm.synth_media(spark, 30)
        out = mm.resize_images(media, 64, 48)
        imgs = out.filter("kind = 'image'").collect()
        assert imgs and all(
            r.meta.width == 64 and r.meta.height == 48 for r in imgs)
        others = out.filter("kind != 'image'").count()
        assert others == 30 - len(imgs)  # pass-through rows survive

    def test_resize_deterministic(self, spark):
        from lib_gdal_spark.operators import multimodal as mm

        media = mm.synth_media(spark, 12)
        a = {r.id: bytes(r.payload) for r in mm.resize_images(media, 32, 32).collect()}
        b = {r.id: bytes(r.payload) for r in mm.resize_images(media, 32, 32).collect()}
        assert a == b

    def test_frame_sample_expands_videos(self, spark):
        from lib_gdal_spark.operators import multimodal as mm
        from pyspark.sql import functions as F

        media = mm.synth_media(spark, 30)
        frames = mm.frame_sample(media, every_ms=1000, max_frames=4)
        per = frames.groupBy("id").agg(F.count(F.lit(1)).alias("n"),
                                       F.max("t_ms").alias("tmax")).collect()
        vids = media.filter("kind = 'video'").count()
        assert len(per) == vids
        assert all(1 <= r.n <= 4 and r.tmax == (r.n - 1) * 1000 for r in per)


class TestEmbeddingNeardup:
    def _emb(self, spark):
        import numpy as np
        # non-periodic in i (i*i term) so no accidental duplicate vectors
        rng = [(i, [float(((i * i * 31 + j * 7 + i * j) % 97) - 48)
                    for j in range(16)])
               for i in range(40)]
        dups = [(i + 1000, v) for i, v in rng[:10]]  # exact copies
        return spark.createDataFrame(rng + dups,
                                     "vec_id long, embedding array<double>")

    def test_default_lsh_drops_larger_ids(self, spark):
        from lib_gdal_spark.operators import similarity

        # default method is now 'lsh' (the scale path); exact duplicates
        # are guaranteed candidates so removal is still complete
        out = similarity.embedding_neardup(self._emb(spark), threshold=0.999)
        ids = {r.vec_id for r in out.collect()}
        assert ids == set(range(40))  # all copies (ids 1000+) dropped

    def test_exact_drops_larger_ids(self, spark):
        from lib_gdal_spark.operators import similarity

        out = similarity.embedding_neardup(self._emb(spark), threshold=0.999,
                                           method="exact")
        ids = {r.vec_id for r in out.collect()}
        assert ids == set(range(40))

    def test_lsh_path_matches_exact_here(self, spark):
        from lib_gdal_spark.operators import similarity

        df = self._emb(spark)
        exact = {r.vec_id for r in similarity.embedding_neardup(
            df, threshold=0.999, method="exact").collect()}
        lsh = {r.vec_id for r in similarity.embedding_neardup(
            df, threshold=0.999, method="lsh", n_tables=6, n_bits=6).collect()}
        # identical vectors always share every LSH bucket -> exact dups are
        # guaranteed candidates; the approximate path must find them all
        assert lsh == exact


class TestIncrementalPyramid:
    def test_stream_matches_batch_and_resumes(self, spark, tmp_path):
        import glob
        import shutil

        from lib_gdal_spark.operators import sjoin, tiles
        from lib_gdal_spark.pages.synth import pages_df
        from lib_gdal_spark.streaming import ingest

        src = tmp_path / "pages_src"
        src.mkdir()
        out = str(tmp_path / "pyr_deltas")
        ckpt = str(tmp_path / "ckpt")

        def land(name, lo, hi):
            stage = tmp_path / f"_s{name}"
            pages_df(spark, hi - lo, partitions=2).withColumn(
                "url", F.concat(F.lit(f"{name}:"), F.col("url"))
            ).coalesce(1).write.mode("overwrite").parquet(str(stage))
            f = glob.glob(str(stage / "*.parquet"))[0]
            shutil.move(f, str(src / f"{name}.parquet"))
            shutil.rmtree(str(stage))

        land("b0", 0, 4000)
        q = ingest.start_incremental_pyramid(spark, str(src), out, ckpt,
                                             max_zoom=6)
        try:
            q.processAllAvailable()
            land("b1", 0, 4000)  # second epoch: SAME pages again
            q.processAllAvailable()
        finally:
            q.stop()

        got = ingest.read_pyramid(spark, out).orderBy("z", "x", "y").toPandas()
        # batch twin over BOTH deliveries (8000 pages, counts doubled)
        allp = spark.read.schema(ingest.PAGES_SCHEMA).parquet(str(src))
        pts = sjoin.with_tile(sjoin.geocode(allp.select("text"), fast=True), 6)
        want = (
            tiles.tile_pyramid(pts.select("tile_x", "tile_y"), 6, 0)
            .orderBy("z", "x", "y").toPandas()
        )
        import pandas as pd
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True), want.reset_index(drop=True),
            check_dtype=False)

        # resume: restart from the same checkpoint; nothing new -> no new
        # epochs, pyramid unchanged (idempotent)
        q2 = ingest.start_incremental_pyramid(spark, str(src), out, ckpt,
                                              max_zoom=6)
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        again = ingest.read_pyramid(spark, out).orderBy("z", "x", "y").toPandas()
        pd.testing.assert_frame_equal(got, again, check_dtype=False)


class TestAnnIvf:
    def test_recall_against_exact(self, spark):
        import numpy as np
        from lib_gdal_spark.operators import similarity

        rng = np.random.default_rng(7)
        # clustered corpus: 8 centers x 40 points
        centers = rng.normal(0, 5, (8, 16))
        v = np.vstack([c + rng.normal(0, 0.4, (40, 16)) for c in centers])
        corpus = spark.createDataFrame(
            [(int(i), [float(x) for x in v[i]]) for i in range(len(v))],
            "vec_id long, embedding array<double>")
        q = np.vstack([c + rng.normal(0, 0.4, (2, 16)) for c in centers])
        queries = spark.createDataFrame(
            [(int(i), [float(x) for x in q[i]]) for i in range(len(q))],
            "qid long, embedding array<double>")
        exact = similarity.cosine_topk(corpus, queries, k=5).toPandas()
        ivf = similarity.ann_ivf(corpus, queries, k=5, n_lists=8,
                                 nprobe=3).toPandas()
        e = set(map(tuple, exact[["qid", "vec_id"]].values))
        g = set(map(tuple, ivf[["qid", "vec_id"]].values))
        recall = len(e & g) / len(e)
        assert recall >= 0.9, f"IVF recall {recall}"

    def test_deterministic(self, spark):
        import numpy as np
        from lib_gdal_spark.operators import similarity

        rng = np.random.default_rng(3)
        v = rng.normal(0, 1, (100, 8))
        corpus = spark.createDataFrame(
            [(int(i), [float(x) for x in v[i]]) for i in range(100)],
            "vec_id long, embedding array<double>")
        queries = spark.createDataFrame(
            [(0, [float(x) for x in v[5]])], "qid long, embedding array<double>")
        a = similarity.ann_ivf(corpus, queries, k=3).collect()
        b = similarity.ann_ivf(corpus.repartition(13), queries, k=3).collect()
        assert [(r.qid, r.vec_id, r.rank) for r in a] == \
               [(r.qid, r.vec_id, r.rank) for r in b]


class TestGraph:
    EDGES = [
        (1, 2, 1.0), (2, 3, 2.0), (1, 3, 5.0), (3, 4, 1.0),
        (5, 6, 1.0),  # separate component
    ]

    def _dijkstra_oracle(self, edges, source):
        import heapq
        adj = {}
        for s, d, w in edges:
            adj.setdefault(s, []).append((d, w))
            adj.setdefault(d, []).append((s, w))
        dist = {source: 0.0}
        pq = [(0.0, source)]
        while pq:
            dd, u = heapq.heappop(pq)
            if dd > dist.get(u, float("inf")):
                continue
            for v, w in adj.get(u, []):
                nd = dd + w
                if nd < dist.get(v, float("inf")):
                    dist[v] = nd
                    heapq.heappush(pq, (nd, v))
        return dist

    def test_sssp_matches_dijkstra(self, spark):
        from lib_gdal_spark.operators import graph

        e = spark.createDataFrame(self.EDGES, "src long, dst long, w double")
        got = {r.vertex: r.dist for r in graph.sssp(e, 1).collect()}
        want = self._dijkstra_oracle(self.EDGES, 1)
        assert got == want  # {1:0, 2:1, 3:3, 4:4}; 5,6 absent
        assert 5 not in got

    def test_sssp_directed(self, spark):
        from lib_gdal_spark.operators import graph

        e = spark.createDataFrame([(1, 2, 1.0), (2, 1, 10.0)],
                                  "src long, dst long, w double")
        got = {r.vertex: r.dist for r in graph.sssp(e, 2, directed=True).collect()}
        assert got == {2: 0.0, 1: 10.0}

    def test_connected_components(self, spark):
        from lib_gdal_spark.operators import graph

        e = spark.createDataFrame(self.EDGES, "src long, dst long, w double")
        got = {r.vertex: r.component for r in
               graph.connected_components(e).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}

    def test_long_chain_converges(self, spark):
        from lib_gdal_spark.operators import graph

        chain = [(i, i + 1, 1.0) for i in range(20)]
        e = spark.createDataFrame(chain, "src long, dst long, w double")
        got = {r.vertex: r.dist for r in graph.sssp(e, 0).collect()}
        assert got[20] == 20.0 and len(got) == 21

    def test_sssp_blocked_vertex_reroutes(self, spark):
        # GNM ChangeBlockState barrier (gnmgraph.cpp:529): blocking 2
        # forces 1->3 direct (5) instead of 1->2->3 (3); 2 unreachable
        from lib_gdal_spark.operators import graph

        e = spark.createDataFrame(self.EDGES, "src long, dst long, w double")
        got = {r.vertex: r.dist for r in
               graph.sssp(e, 1, blocked_vertices=[2]).collect()}
        assert got == {1: 0.0, 3: 5.0, 4: 6.0}

    def test_sssp_blocked_edge_reroutes(self, spark):
        # blocking the undirected edge (1,2) kills BOTH directions (one
        # reference FID); 2 is still reachable via 3: 5 + w(3,2)=2 -> 7
        from lib_gdal_spark.operators import graph

        e = spark.createDataFrame(self.EDGES, "src long, dst long, w double")
        got = {r.vertex: r.dist for r in
               graph.sssp(e, 1, blocked_edges=[(1, 2)]).collect()}
        assert got == {1: 0.0, 2: 7.0, 3: 5.0, 4: 6.0}

    def test_sssp_blocked_source_still_routes(self, spark):
        # the reference pushes the start vertex unconditionally — only
        # TARGET vertices are barrier-checked; a blocked source routes
        from lib_gdal_spark.operators import graph

        e = spark.createDataFrame(self.EDGES, "src long, dst long, w double")
        got = {r.vertex: r.dist for r in
               graph.sssp(e, 1, blocked_vertices=[1]).collect()}
        assert got == {1: 0.0, 2: 1.0, 3: 3.0, 4: 4.0}

    def test_kpaths_blocked_vertex(self, spark):
        from lib_gdal_spark.operators import graph

        e = spark.createDataFrame(self.EDGES, "src long, dst long, w double")
        rows = graph.k_shortest_paths(
            e, 1, 4, k=2, blocked_vertices=[2]).collect()
        assert [(r.cost, r.path) for r in rows] == [(6.0, "|1|3|4|")]

    @staticmethod
    def _pagerank_oracle(edges, iterations, scale=10 ** 12, d=85):
        """Independent dict-based integer PageRank (same recurrence)."""
        edges = sorted(set(edges))
        nodes = sorted({u for e in edges for u in e})
        outdeg = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        base = (scale * (100 - d)) // 100
        r = {v: scale for v in nodes}
        for _ in range(iterations):
            nxt = {v: base for v in nodes}
            for s, t in edges:
                nxt[t] += (r[s] * d) // (100 * outdeg[s])
            r = nxt
        return r

    PR_EDGES = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (2, 4), (4, 1)]

    def test_pagerank_matches_reference_loop(self, spark):
        from lib_gdal_spark.operators import graph

        e = spark.createDataFrame(self.PR_EDGES, "src long, dst long")
        got = {r.vertex: r.rank
               for r in graph.pagerank(e, iterations=5).collect()}
        assert got == self._pagerank_oracle(self.PR_EDGES, 5)

    def test_pagerank_hand_golden_two_cycle(self, spark):
        # 1 <-> 2, scale 100, d=85: r0 = (100, 100);
        # r1(v) = 15 + (100*85)//100 = 15 + 85 = 100 — exact fixed point
        from lib_gdal_spark.operators import graph

        e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
        got = {r.vertex: r.rank
               for r in graph.pagerank(e, iterations=3, scale=100).collect()}
        assert got == {1: 100, 2: 100}

    def test_pagerank_dangling_and_partitioning(self, spark):
        # 1->2, 2 dangling: 2's mass drops out each round; partition-count
        # independent because all math is integer
        from lib_gdal_spark.operators import graph

        edges = [(1, 2), (3, 2), (3, 1)]
        e = spark.createDataFrame(edges, "src long, dst long")
        a = {r.vertex: r.rank
             for r in graph.pagerank(e, iterations=4).collect()}
        b = {r.vertex: r.rank
             for r in graph.pagerank(e.repartition(7),
                                     iterations=4).collect()}
        assert a == b == self._pagerank_oracle(edges, 4)


class TestZonalWeighted:
    def test_weighted_stats(self, spark):
        from lib_gdal_spark.operators import raster

        rows = [(1, 10.0, 0.5), (1, 20.0, 1.0), (2, 4.0, 2.0)]
        cells = spark.createDataFrame(rows, "zone long, value double, weight double")
        out = raster.zonal_stats(
            cells, stats=("weighted_sum", "weighted_mean", "mean")
        ).toPandas().set_index("zone")
        assert out.loc[1, "weighted_sum"] == 25.0      # 10*0.5 + 20*1
        assert out.loc[1, "weighted_mean"] == 25.0 / 1.5
        assert out.loc[1, "mean"] == 15.0
        assert out.loc[2, "weighted_mean"] == 4.0


class TestWinnowing:
    def test_shared_substring_guarantee(self, spark):
        from lib_gdal_spark.operators import textops

        # docs sharing a run of >= window+k-1 = 6 tokens must share a
        # fingerprint (the winnowing guarantee)
        common = "alpha beta gamma delta epsilon zeta"
        rows = [(1, f"one two {common} three"),
                (2, f"{common} nine eight seven six"),
                (3, "totally different words everywhere here now then")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        fp = textops.winnow_fingerprints(df, k=3, window=4)
        sets = {r[0]: set() for r in rows}
        for r in fp.collect():
            sets[r.doc_id].add(r.fp)
        assert sets[1] & sets[2]          # guarantee holds
        assert not (sets[1] & sets[3])    # unrelated docs don't collide

    def test_short_doc_gets_global_min(self, spark):
        from lib_gdal_spark.operators import textops

        df = spark.createDataFrame([(1, "just three tokens")],
                                   "doc_id long, text string")
        out = textops.winnow_fingerprints(df, k=3, window=4).collect()
        assert len(out) == 1  # one k-gram -> its hash is the fingerprint

    def test_deterministic_under_repartition(self, spark):
        from lib_gdal_spark.operators import textops

        rows = [(i, f"w{i} " * 3 + "alpha beta gamma delta epsilon")
                for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(map(tuple, textops.winnow_fingerprints(df).collect()))
        b = sorted(map(tuple, textops.winnow_fingerprints(
            df.repartition(7)).collect()))
        assert a == b


class TestWatermarkLateData:
    def test_late_events_dropped_after_finalization(self, spark, tmp_path):
        import glob
        import shutil

        from lib_gdal_spark.streaming import events as ev

        src = tmp_path / "late_src"
        src.mkdir()

        def land(name, rows):
            pdf = pd.DataFrame(
                rows, columns=["event_id", "ts", "user_id", "event_type",
                               "value", "props"])
            sdf = spark.createDataFrame(pdf).withColumn(
                "ts", F.to_timestamp("ts"))
            stage = tmp_path / f"_w{name}"
            sdf.coalesce(1).write.mode("overwrite").parquet(str(stage))
            f = glob.glob(str(stage / "*.parquet"))[0]
            shutil.move(f, str(src / f"{name}.parquet"))
            shutil.rmtree(str(stage))

        q = ev.windowed_counts_stream_append(
            spark, str(src), minutes=5, watermark="10 minutes",
            query_name="t_late")
        try:
            # batch 1: three events in the 00:00 window, plus one at 01:00
            # that advances the watermark to 00:50 (> window end 00:05)
            land("b0", [
                (1, "2024-01-01 00:00:30", 1, "click", 1.0, "{}"),
                (2, "2024-01-01 00:01:30", 1, "click", 1.0, "{}"),
                (3, "2024-01-01 00:02:30", 1, "click", 1.0, "{}"),
                (4, "2024-01-01 01:00:00", 1, "click", 1.0, "{}"),
            ])
            q.processAllAvailable()
            # batch 2: a LATE event for the (finalized) 00:00 window — must
            # be dropped, not restated
            land("b1", [
                (5, "2024-01-01 00:01:00", 1, "click", 1.0, "{}"),
                (6, "2024-01-01 01:20:00", 1, "click", 1.0, "{}"),
            ])
            q.processAllAvailable()
            got = {str(r.w_start): r.n for r in
                   spark.sql("SELECT * FROM t_late").collect()}
        finally:
            q.stop()
        # the finalized 00:00 window keeps its original count of 3 — the
        # late event 5 was dropped by the watermark
        assert got.get("2024-01-01 00:00:00") == 3
        # each emitted window appears exactly once (append semantics)
        assert list(got.values()).count(3) == 1


class TestWarpKernels:
    def _src(self, spark):
        # 8x8 source cells on the 5-degree grid over [-20,20)^2; values
        # repeat ((gx%7)*10 + gy%5) so mode/quantiles see real ties
        cells = [(gx, gy, float((gx % 7) * 10 + gy % 5))
                 for gx in range(-4, 4) for gy in range(-4, 4)]
        df = spark.createDataFrame(cells, "gx long, gy long, v double")
        return df.select(((F.col("gx") + 0.5) * 5.0).alias("cx"),
                         ((F.col("gy") + 0.5) * 5.0).alias("cy"), "v")

    def test_sum_kernel_conserves_total(self, spark):
        from lib_gdal_spark.operators import warp

        src = self._src(spark)
        total = src.agg(F.sum("v")).first()[0]
        out = warp.warp_agg(src, zoom=3, kernel="sum")
        assert out.agg(F.sum("value")).first()[0] == total

    def test_min_max_bracket_average(self, spark):
        from lib_gdal_spark.operators import warp

        src = self._src(spark)
        mn = warp.warp_agg(src, zoom=3, kernel="min").withColumnRenamed("value", "mn")
        mx = warp.warp_agg(src, zoom=3, kernel="max").withColumnRenamed("value", "mx")
        av = warp.warp_agg(src, zoom=3, kernel="average").withColumnRenamed("value", "av")
        j = mn.join(mx, ["x", "y"]).join(av, ["x", "y"])
        bad = j.filter((F.col("av") < F.col("mn")) | (F.col("av") > F.col("mx")))
        assert bad.count() == 0

    def test_quartiles_zoom0_hand_golden(self, spark):
        from lib_gdal_spark.operators import warp
        import math

        # zoom 0: every source cell lands in tile (0,0) -> quartiles of
        # the full value list, rank = max(1, ceil(p*n)) in sorted order
        src = self._src(spark)
        vals = sorted(r.v for r in src.select("v").collect())
        n = len(vals)
        exp = {p: vals[max(1, math.ceil(p * n)) - 1] for p in (0.25, 0.5, 0.75)}
        row = warp.warp_quartiles(src, zoom=0).collect()[0]
        assert (row.q1, row.med, row.q3) == (exp[0.25], exp[0.5], exp[0.75])

    def test_mode_is_most_frequent_smallest(self, spark):
        from lib_gdal_spark.operators import warp
        from collections import Counter

        src = self._src(spark)
        c = Counter(r.v for r in src.select("v").collect())
        best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        row = warp.warp_agg(src, zoom=0, kernel="mode").collect()[0]
        assert row.value == best

    def test_near_samples_covering_source_cell(self, spark):
        from lib_gdal_spark.operators import warp
        from lib_gdal_spark.geo import mercator as M

        src = self._src(spark)
        src_map = {(int((r.cx - 2.5) / 5), int((r.cy - 2.5) / 5)): r.v
                   for r in src.collect()}
        out = warp.warp_near(src, zoom=6, cell_size=5.0).collect()
        assert len(out) > 0
        import numpy as np
        for r in out:
            # recompute the inverse center in numpy and check the sampled
            # value is the covering cell's
            s = M.tile_size_meters(6)
            lon = ((r.x + 0.5) * s - M.ORIGIN_SHIFT) / M.ORIGIN_SHIFT * 180.0
            my = M.ORIGIN_SHIFT - (r.y + 0.5) * s
            lat = float(180.0 / np.pi * (2.0 * np.arctan(
                np.exp(my / M.ORIGIN_SHIFT * 180.0 * np.pi / 180.0)) - np.pi / 2.0))
            key = (int(np.floor(lon / 5.0)), int(np.floor(lat / 5.0)))
            assert r.value == src_map[key]

    def test_bilinear_within_source_range(self, spark):
        from lib_gdal_spark.operators import warp

        src = self._src(spark)
        lo = src.agg(F.min("v")).first()[0]
        hi = src.agg(F.max("v")).first()[0]
        out = warp.warp_bilinear(src, zoom=6, cell_size=5.0)
        assert out.count() > 0
        bad = out.filter((F.col("value") < lo - 1e-9) | (F.col("value") > hi + 1e-9))
        assert bad.count() == 0

    def test_kernel_weights_match_reference_formulas(self, spark):
        # kernel_weight_sql (shared Spark/duckdb text) vs independent
        # NumPy transliterations of gdalresamplingkernels.h:23 (cubic),
        # gdalwarpkernel.cpp:3680 (GWKBSpline /6) and :3540 (lanczos)
        import numpy as np
        from lib_gdal_spark.operators import warp

        def ref_cubic(x):
            a = abs(x)
            if a <= 1.0:
                return x * x * (1.5 * a - 2.5) + 1.0
            if a <= 2.0:
                return x * x * (-0.5 * a + 2.5) - 4.0 * a + 2.0
            return 0.0

        def ref_bspline(x):
            # GWKBSpline omits the 1/6; piecewise-equivalent closed form
            a = abs(x)
            if a < 1.0:
                return 3.0 * a**3 - 6.0 * a**2 + 4.0
            if a < 2.0:
                return -(a**3) + 6.0 * a**2 - 12.0 * a + 8.0
            return 0.0

        def ref_lanczos(x):
            if x == 0.0:
                return 1.0
            if abs(x) >= 3.0:
                return 0.0
            return float(np.sin(np.pi * x) * np.sin(np.pi * x / 3.0)
                         / (np.pi * x * (np.pi * x / 3.0)))

        ds = [round(-2.9 + 0.151 * k, 6) for k in range(39)]
        df = spark.createDataFrame([(d,) for d in ds], "d double")
        for kernel, ref in (("cubic", ref_cubic),
                            ("cubicspline", ref_bspline),
                            ("lanczos", ref_lanczos)):
            got = {r.d: r.w for r in df.select(
                "d", F.expr(warp.kernel_weight_sql("d", kernel)).alias("w")
            ).collect()}
            for d in ds:
                assert got[d] == pytest.approx(ref(d), abs=1e-12), (kernel, d)

    def test_cubic_and_bspline_reproduce_linear_field(self, spark):
        # Catmull-Rom and (normalized) B-spline both have linear
        # precision: warping v = 3*gx + 7*gy + 11 must return the exact
        # linear value at each target center
        import numpy as np
        from lib_gdal_spark.operators import warp
        from lib_gdal_spark.geo import mercator as M

        cells = [(gx, gy, float(3 * gx + 7 * gy + 11))
                 for gx in range(-8, 8) for gy in range(-8, 8)]
        src = spark.createDataFrame(cells, "gx long, gy long, v double").select(
            ((F.col("gx") + 0.5) * 5.0).alias("cx"),
            ((F.col("gy") + 0.5) * 5.0).alias("cy"), "v")
        for kernel in ("cubic", "cubicspline"):
            out = warp.warp_convolution(src, zoom=5, cell_size=5.0,
                                        kernel=kernel).collect()
            assert len(out) > 0
            s = M.tile_size_meters(5)
            for r in out:
                lon = ((r.x + 0.5) * s - M.ORIGIN_SHIFT) / M.ORIGIN_SHIFT * 180.0
                my = M.ORIGIN_SHIFT - (r.y + 0.5) * s
                lat = float(180.0 / np.pi * (2.0 * np.arctan(
                    np.exp(my / M.ORIGIN_SHIFT * np.pi)) - np.pi / 2.0))
                exp = 3.0 * (lon / 5.0 - 0.5) + 7.0 * (lat / 5.0 - 0.5) + 11.0
                assert r.value == pytest.approx(exp, abs=1e-9), (kernel, r)

    def test_lanczos_constant_field_and_range(self, spark):
        # sum(w*v)/sum(w) normalization: a constant field stays exactly
        # constant even though lanczos weights don't sum to 1
        from lib_gdal_spark.operators import warp

        # 16x16 grid: wide enough that complete 6x6 windows exist at z4
        cells = [(gx, gy) for gx in range(-8, 8) for gy in range(-8, 8)]
        src = spark.createDataFrame(cells, "gx long, gy long").select(
            ((F.col("gx") + 0.5) * 5.0).alias("cx"),
            ((F.col("gy") + 0.5) * 5.0).alias("cy"),
            F.lit(42.0).alias("v"))
        out = warp.warp_convolution(src, zoom=4, cell_size=5.0,
                                    kernel="lanczos")
        rows = out.collect()
        assert len(rows) > 0
        for r in rows:
            assert r.value == pytest.approx(42.0, abs=1e-9)


class TestPolygonizeRings:
    def _df(self, spark, cells, value=1.0):
        return spark.createDataFrame([(x, y, value) for x, y in cells],
                                     "bx long, by long, value double")

    def test_square_with_hole_golden(self, spark):
        from lib_gdal_spark.operators import polygonize as pz
        from lib_gdal_spark.geo import wkb as wkbmod

        cells = [(x, y) for x in range(3) for y in range(3) if (x, y) != (1, 1)]
        out = pz.polygonize_rings(self._df(spark, cells)).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.n_cells, r.n_rings, r.area) == (8, 2, 8.0)
        kind, rings = wkbmod.decode(bytes(r.wkb))
        assert kind == "polygon" and len(rings) == 2

        def sarea(rr):
            x, y = rr[:, 0], rr[:, 1]
            return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))

        # outer CCW (+9) first, hole CW (-1) second — OGR orientation
        assert sarea(rings[0]) == 9.0
        assert sarea(rings[1]) == -1.0
        # outer ring vertex SET is the 3x3 square's corner walk
        assert {tuple(p) for p in rings[0]} == {
            (0.0, 0.0), (1.0, 0.0), (2.0, 0.0), (3.0, 0.0),
            (3.0, 1.0), (3.0, 2.0), (3.0, 3.0), (2.0, 3.0),
            (1.0, 3.0), (0.0, 3.0), (0.0, 2.0), (0.0, 1.0)}

    def test_regions_split_and_area_invariant(self, spark):
        from lib_gdal_spark.operators import polygonize as pz

        # L-shape + diagonal-touch singleton (4-connectivity keeps them
        # separate regions) + a second value class
        rows = [(0, 0, 1.0), (1, 0, 1.0), (0, 1, 1.0), (2, 2, 1.0),
                (5, 5, 2.0), (5, 6, 2.0)]
        df = spark.createDataFrame(rows, "bx long, by long, value double")
        out = pz.polygonize_rings(df).collect()
        assert len(out) == 3
        for r in out:
            assert r.area == float(r.n_cells)  # shoelace == cell count
            assert r.n_rings == 1

    def test_distributed_stitch_matches_driver(self, spark):
        from lib_gdal_spark.operators import polygonize as pz

        # grid spanning multiple 2^2 blocks so cross-block stitching is
        # exercised; both stitchers must produce IDENTICAL labels
        rows = [(x, y, float((x + y) % 2)) for x in range(12) for y in range(8)]
        df = spark.createDataFrame(rows, "bx long, by long, value double")
        a = pz.polygonize(df, block_bits=2, stitch="distributed").collect()
        b = pz.polygonize(df, block_bits=2, stitch="driver").collect()
        ka = sorted((r.bx, r.by, r.value, r.region_id) for r in a)
        kb = sorted((r.bx, r.by, r.value, r.region_id) for r in b)
        assert ka == kb


class TestCosineTopkArrow:
    def test_arrow_matches_catalyst(self, spark):
        from lib_gdal_spark.operators import similarity

        rng = np.random.default_rng(7)
        v = rng.normal(0, 1, (400, 16))
        corpus = spark.createDataFrame(
            pd.DataFrame({"vec_id": np.arange(400), "embedding": list(map(list, v))}),
            schema="vec_id long, embedding array<double>",
        ).repartition(7)
        q = spark.createDataFrame(
            pd.DataFrame({"qid": np.arange(6), "embedding": list(map(list, v[:6]))}),
            schema="qid long, embedding array<double>",
        )
        a = similarity.cosine_topk(corpus, q, k=5, method="arrow").toPandas()
        c = similarity.cosine_topk(corpus, q, k=5, method="catalyst").toPandas()
        a = a.sort_values(["qid", "rank"]).reset_index(drop=True)
        c = c.sort_values(["qid", "rank"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(a[["qid", "vec_id", "rank"]],
                                      c[["qid", "vec_id", "rank"]])
        np.testing.assert_allclose(a.cos.to_numpy(), c.cos.to_numpy(),
                                   rtol=1e-12)


class TestKShortestPaths:
    def test_diamond_hand_golden(self, spark):
        from lib_gdal_spark.operators import graph

        # 0->1->3 (cost 2), 0->2->3 (cost 5), 0->3 direct (cost 10),
        # 0->1->2->3 (1+1+4=6): known ranking
        edges = spark.createDataFrame(
            [(0, 1, 1.0), (1, 3, 1.0), (0, 2, 1.0), (2, 3, 4.0),
             (0, 3, 10.0), (1, 2, 1.0)],
            "src long, dst long, w double")
        out = graph.k_shortest_paths(edges, source=0, target=3, k=3,
                                     directed=True)
        rows = [(r.rank, r.cost, r.path) for r in out.collect()]
        assert rows == [(1, 2.0, "|0|1|3|"),
                        (2, 5.0, "|0|2|3|"),
                        (3, 6.0, "|0|1|2|3|")]

    def test_undirected_excludes_cycles(self, spark):
        from lib_gdal_spark.operators import graph

        # triangle: simple paths 0->2 are direct and via 1; nothing longer
        edges = spark.createDataFrame(
            [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 3.0)],
            "src long, dst long, w double")
        out = graph.k_shortest_paths(edges, source=0, target=2, k=10)
        rows = [(r.cost, r.path) for r in out.collect()]
        assert rows == [(2.0, "|0|1|2|"), (3.0, "|0|2|")]

    def test_prune_keeps_topk_on_dag(self, spark):
        from lib_gdal_spark.operators import graph

        edges = spark.createDataFrame(
            [(0, 1, 1.0), (1, 3, 1.0), (0, 2, 1.0), (2, 3, 4.0),
             (0, 3, 10.0), (1, 2, 1.0)],
            "src long, dst long, w double")
        exact = graph.k_shortest_paths(edges, 0, 3, k=2, directed=True)
        pruned = graph.k_shortest_paths(edges, 0, 3, k=2, directed=True,
                                        prune=4)
        assert [r.path for r in exact.collect()] == \
               [r.path for r in pruned.collect()]


class TestPolygonizeReferenceGolden:
    """Replay of the reference's own polygonize fixture
    (autotest/alg/polygonize.py test_polygonize_1/2 over
    autotest/alg/data/polygonize_in.grd): 5x7 grid, cellsize 60, origin
    (440720, 3751020), nodata 132."""

    GRID = [  # top-down rows as in the .grd file
        [107, 123, 132, 115, 132],
        [115, 132, 132, 123, 123],
        [115, 132, 140, 132, 123],
        [148, 132, 123, 123, 123],
        [156, 156, 156, 140, 132],
        [156, 100, 156, 101, 102],
        [156, 156, 156, 103, 103],
    ]

    def _cells(self, spark, mask_nodata):
        rows = []
        for r, vals in enumerate(self.GRID):
            for c, v in enumerate(vals):
                if mask_nodata and v == 132:
                    continue
                rows.append((c, 6 - r, float(v)))  # by counts from bottom
        return spark.createDataFrame(rows, "bx long, by long, value double")

    @staticmethod
    def _corners(ring):
        """Drop collinear vertices (the tracer emits every lattice vertex;
        the reference emits corners only)."""
        pts = [tuple(p) for p in ring[:-1]]
        out = []
        n = len(pts)
        for i in range(n):
            a, b, c = pts[i - 1], pts[i], pts[(i + 1) % n]
            cross = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
            if cross != 0:
                out.append(b)
        return set(out)

    def test_masked_13_features(self, spark):
        from lib_gdal_spark.operators import polygonize as pz

        out = pz.polygonize_rings(self._cells(spark, True), block_bits=1,
                                  cell_size=60.0,
                                  origin=(440720.0, 3751020.0)).collect()
        assert len(out) == 13  # test_polygonize_1 expected_feature_number
        expect = [107, 123, 115, 115, 140, 148, 123, 140, 100, 101, 102, 156, 103]
        assert sorted(int(r.value) for r in out) == sorted(expect)

    def test_unmasked_17_features(self, spark):
        from lib_gdal_spark.operators import polygonize as pz

        out = pz.polygonize_rings(self._cells(spark, False), block_bits=1).collect()
        assert len(out) == 17  # test_polygonize_2 expected_feature_number
        expect = [107, 123, 115, 132, 115, 140, 132, 132, 148, 123, 140,
                  132, 100, 101, 102, 156, 103]
        assert sorted(int(r.value) for r in out) == sorted(expect)

    def test_dn156_geometry_matches_reference_wkt(self, spark):
        from lib_gdal_spark.operators import polygonize as pz
        from lib_gdal_spark.geo import wkb as wkbmod

        out = pz.polygonize_rings(self._cells(spark, True), block_bits=1,
                                  cell_size=60.0,
                                  origin=(440720.0, 3751020.0)).collect()
        r156 = [r for r in out if r.value == 156.0][0]
        assert r156.n_cells == 8 and r156.n_rings == 2 and r156.area == 8.0
        kind, rings = wkbmod.decode(bytes(r156.wkb))
        assert kind == "polygon" and len(rings) == 2
        # reference WKT (autotest/alg/polygonize.py:63-66)
        outer_exp = {(440720.0, 3751200.0), (440720.0, 3751020.0),
                     (440900.0, 3751020.0), (440900.0, 3751200.0)}
        hole_exp = {(440780.0, 3751140.0), (440840.0, 3751140.0),
                    (440840.0, 3751080.0), (440780.0, 3751080.0)}
        assert self._corners(rings[0]) == outer_exp
        assert self._corners(rings[1]) == hole_exp


class TestSieveReferenceGolden:
    """Replay of the reference's own sieve autotests
    (autotest/alg/sieve.py tests 1-4) including their GDALChecksumImage
    expectations (alg/gdalchecksum.cpp: sum of value % prime[i % 11] over
    the row-major scan, masked to 16 bits)."""

    SIEVE_SRC = [
        [107, 123, 132, 115, 132],
        [115, 132, 132, 123, 123],
        [115, 132, 140, 132, 123],
        [148, 132, 123, 123, 123],
        [156, 156, 156, 140, 132],
        [156, 100, 156, 101, 102],
        [156, 156, 156, 103, 103],
    ]
    UNMERGABLE = [
        [10, 11, 12, 13, 14],
        [15, 16, 17, 18, 19],
        [20, 21, 22, 23, 24],
        [25, 25, 26, 27, 28],
        [29, 30, 31, 32, 33],
        [34, 35, 36, 37, 38],
        [39, 40, 41, 42, 43],
    ]
    SIEVE_2634 = [
        [0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
        [0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
        [0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
        [0, 0, 0, 255, 0, 0, 0, 255, 0, 0],
        [0, 0, 255, 255, 255, 255, 255, 255, 255, 0],
        [0, 0, 0, 255, 0, 0, 0, 255, 0, 0],
        [0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
        [0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
    ]

    @staticmethod
    def _checksum(grid_topdown):
        primes = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]
        cs, i = 0, 0
        for row in grid_topdown:
            for v in row:
                cs += int(v) % primes[i % 11]
                i += 1
        return cs & 0xFFFF

    def _run(self, spark, grid, threshold, connect8):
        from lib_gdal_spark.operators import polygonize as pz

        nrows = len(grid)
        rows = [(c, nrows - 1 - r, float(v))
                for r, vals in enumerate(grid) for c, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "bx long, by long, value double")
        out = pz.sieve_gdal(df, threshold=threshold, connect8=connect8,
                            block_bits=1)
        got = {(r.bx, r.by): int(r.value) for r in out.collect()}
        return [[got[(c, nrows - 1 - r)] for c in range(len(grid[0]))]
                for r in range(nrows)]

    def test_sieve_1_checksum(self, spark):
        out = self._run(spark, self.SIEVE_SRC, threshold=2, connect8=False)
        assert self._checksum(out) == 364  # autotest/alg/sieve.py:37

    def test_sieve_2_checksum_8connected(self, spark):
        out = self._run(spark, self.SIEVE_SRC, threshold=2, connect8=True)
        assert self._checksum(out) == 370  # autotest/alg/sieve.py:67

    def test_sieve_3_unmergable(self, spark):
        out = self._run(spark, self.UNMERGABLE, threshold=2, connect8=True)
        assert self._checksum(out) == 451  # autotest/alg/sieve.py:98

    def test_sieve_4_bug2634(self, spark):
        out = self._run(spark, self.SIEVE_2634, threshold=2, connect8=False)
        assert self._checksum(out) == 98   # autotest/alg/sieve.py:128

    def test_iterate_until_stable_differs_from_one_pass(self, spark):
        # strip [1,1,2,3,3,3], threshold 3: pass 1 merges A{0,1}->B and
        # simultaneously B{2}->C, stranding a NEW 2-cell value-2 region —
        # provably still under threshold; the fixpoint pass (reference
        # chain semantics) absorbs it into C
        from lib_gdal_spark.operators import polygonize as pz

        vals = [1.0, 1.0, 2.0, 3.0, 3.0, 3.0]
        df = spark.createDataFrame(
            [(x, 0, v) for x, v in enumerate(vals)],
            "bx long, by long, value double")
        one = pz.sieve(df, threshold=3, block_bits=1)
        got1 = {r.bx: r.value for r in one.collect()}
        assert got1 == {0: 2.0, 1: 2.0, 2: 3.0, 3: 3.0, 4: 3.0, 5: 3.0}
        fix = pz.sieve(df, threshold=3, block_bits=1, iterations=0)
        gotf = {r.bx: r.value for r in fix.collect()}
        assert gotf == {x: 3.0 for x in range(6)}
        # explicit 2-pass request reaches the same answer here
        two = pz.sieve(df, threshold=3, block_bits=1, iterations=2)
        assert {r.bx: r.value for r in two.collect()} == gotf

    def test_offset_grid_matches_origin_grid(self, spark):
        # ADVICE r02: the scan-position key used width = max(bx)+1 and
        # ignored min(bx), so offset/negative-bx grids silently changed
        # big-neighbour tie-breaks. Shifting the grid must shift the
        # result, nothing else.
        from lib_gdal_spark.operators import polygonize as pz

        grid = self.SIEVE_SRC
        nrows = len(grid)
        sx, sy = -3, 7   # negative bx offset is the hard case
        rows = [(c + sx, nrows - 1 - r + sy, float(v))
                for r, vals in enumerate(grid) for c, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "bx long, by long, value double")
        out = pz.sieve_gdal(df, threshold=2, connect8=False, block_bits=1)
        got = {(r.bx - sx, r.by - sy): int(r.value) for r in out.collect()}
        base = self._run(spark, grid, threshold=2, connect8=False)
        shifted_back = [[got[(c, nrows - 1 - r)]
                         for c in range(len(grid[0]))] for r in range(nrows)]
        assert shifted_back == base
        assert self._checksum(shifted_back) == 364

    def test_distributed_chain_walk_matches_driver(self, spark):
        # max_small_collect=0 forces the pointer-doubling resolver; every
        # golden grid (incl. the chain-heavy unmergable/bug2634 cases)
        # must reproduce the driver walk bit-exactly
        from lib_gdal_spark.operators import polygonize as pz

        for grid, thr, c8, cs in [
            (self.SIEVE_SRC, 2, False, 364),
            (self.SIEVE_SRC, 2, True, 370),
            (self.UNMERGABLE, 2, True, 451),
            (self.SIEVE_2634, 2, False, 98),
        ]:
            nrows = len(grid)
            rows = [(c, nrows - 1 - r, float(v))
                    for r, vals in enumerate(grid)
                    for c, v in enumerate(vals)]
            df = spark.createDataFrame(rows, "bx long, by long, value double")
            out = pz.sieve_gdal(df, threshold=thr, connect8=c8, block_bits=1,
                                max_small_collect=0)
            got = {(r.bx, r.by): int(r.value) for r in out.collect()}
            g = [[got[(c, nrows - 1 - r)] for c in range(len(grid[0]))]
                 for r in range(nrows)]
            assert g == self._run(spark, grid, thr, c8)
            assert self._checksum(g) == cs

    def test_distributed_chain_walk_long_chain(self, spark):
        # size-graded 1-cell chain: c0<-c1<-...<-c8 each pointing at a
        # bigger small neighbour, terminating in a >=threshold region —
        # exercises multi-round pointer doubling (log2(9) ~ 4 rounds) and
        # the whole-chain path compression
        from lib_gdal_spark.operators import polygonize as pz

        # column x holds x+1 cells of value x stacked upward; threshold
        # 12 makes every column small except the last (value 11, 12 cells)
        rows = [(x, y, float(x)) for x in range(12) for y in range(x + 1)]
        df = spark.createDataFrame(rows, "bx long, by long, value double")
        drv = pz.sieve_gdal(df, threshold=12, block_bits=2)
        dist = pz.sieve_gdal(df, threshold=12, block_bits=2,
                             max_small_collect=0)
        a = sorted((r.bx, r.by, r.value) for r in drv.collect())
        b = sorted((r.bx, r.by, r.value) for r in dist.collect())
        assert a == b
        assert all(v == 11.0 for _, _, v in b)


class TestFillNodataReferenceGolden:
    """Replay of the reference's fillnodata table-driven autotests
    (autotest/alg/fillnodata.py fillnodata_tests, the smoothing=0 /
    default-nodata subset): valid cells are present rows, nodata cells
    are absent, maxSearchDist maps to the IDW fill radius, unfillable
    cells stay nodata (0 in the reference's expected arrays)."""

    CASES = {
        "1x1_nodata_but_pixel_valid": ([[1]], 1, [[1]]),
        "1x1_nodata_pixel_invalid": ([[0]], 1, [[0]]),
        "2x1_valid_invalid": ([[1, 0]], 1, [[1, 1]]),
        "2x1_invalid_valid": ([[0, 1]], 1, [[1, 1]]),
        "3x1_valid_invalid_valid": ([[2, 0, 4]], 1, [[2, 3, 4]]),
        "4x1_valid_invalid_invalid_valid": ([[2, 0, 0, 4]], 1, [[2, 2, 4, 4]]),
        "1x2_valid_invalid": ([[1], [0]], 1, [[1], [1]]),
        "1x2_invalid_valid": ([[0], [1]], 1, [[1], [1]]),
        "1x3_valid_invalid_valid": ([[2], [0], [4]], 1, [[2], [3], [4]]),
        "1x4_valid_invalid_invalid_valid": (
            [[2], [0], [0], [4]], 1, [[2], [2], [4], [4]]),
        "3x3_central_column_invalid": (
            [[2, 0, 4], [4, 0, 6], [6, 0, 8]], 1,
            [[2, 3, 4], [4, 5, 6], [6, 7, 8]]),
        "3x3_central_line_invalid": (
            [[2, 3, 4], [0, 0, 0], [6, 7, 8]], 1,
            [[2, 3, 4], [4, 5, 6], [6, 7, 8]]),
        "3x3_central_column_and_line_invalid": (
            [[2, 0, 4], [0, 0, 0], [6, 0, 8]], 1,
            [[2, 3, 4], [4, 0, 6], [6, 7, 8]]),
        "3x3_central_column_and_line_invalid_search_dist_1_5": (
            [[2, 0, 4], [0, 0, 0], [6, 0, 8]], 1.5,
            [[2, 3, 4], [4, 5, 6], [6, 7, 8]]),
    }

    def test_reference_table(self, spark):
        from lib_gdal_spark.operators import proximity

        for name, (grid, maxdist, expected) in self.CASES.items():
            nrows = len(grid)
            cells = [(c, nrows - 1 - r, float(v))
                     for r, row in enumerate(grid) for c, v in enumerate(row)
                     if v != 0]
            if not cells:
                continue  # all-nodata input: nothing to interpolate from
            df = spark.createDataFrame(cells, "bx long, by long, value double")
            out = {(r.bx, r.by): r.value
                   for r in proximity.fillnodata(df, radius=float(maxdist)).collect()}
            for r, row in enumerate(expected):
                for c, v in enumerate(row):
                    got = out.get((c, nrows - 1 - r), 0.0)
                    assert got == float(v), (name, (c, r), got, v)


class TestMDArray:
    def _cube(self, spark):
        from lib_gdal_spark.operators.mdim import MDArray
        rows = [(i, j, k, float(i * 100 + j * 10 + k))
                for i in range(4) for j in range(3) for k in range(2)]
        df = spark.createDataFrame(rows, "x long, y long, t long, value double")
        return MDArray.from_long(df, ["x", "y", "t"])

    def test_subset_stride_rebases_indices(self, spark):
        a = self._cube(spark).subset(x=(1, 4, 2))  # x in {1, 3} -> {0, 1}
        got = {(r.x, r.y, r.t): r.value for r in a.df.collect()}
        assert set(r[0] for r in got) == {0, 1}
        assert got[(0, 2, 1)] == 121.0  # original x=1
        assert got[(1, 0, 0)] == 300.0  # original x=3

    def test_reduce_and_transpose(self, spark):
        a = self._cube(spark)
        m = a.reduce("t", how="mean")
        got = {(r.x, r.y): r.value for r in m.df.collect()}
        assert got[(2, 1)] == 210.5  # mean(210, 211)
        s = a.transpose(["t", "y", "x"]).reduce(["y", "x"], how="sum")
        tot = {r.t: r.value for r in s.df.collect()}
        assert tot[0] == sum(i * 100 + j * 10 for i in range(4) for j in range(3))

    def test_info_and_to_classic(self, spark):
        a = self._cube(spark)
        info = a.info()
        assert (info["n_x"], info["n_y"], info["n_t"]) == (4, 3, 2)
        assert info["n_values"] == 24 and info["min"] == 0.0
        g = a.subset(t=(0, 1)).reduce("t", how="mean").to_classic("x", "y")
        assert set(g.columns) == {"bx", "by", "value"}
        assert g.count() == 12

    def test_mask_and_apply(self, spark):
        # GetMask rules (gdalmultidim.cpp GDALMDArrayMask): 0 on
        # missing_value / below valid_min / above valid_max
        a = self._cube(spark)
        m = a.mask(missing_value=121.0, valid_min=10.0, valid_max=300.0)
        got = {(r.x, r.y, r.t): r.value for r in m.df.collect()}
        assert got[(1, 2, 1)] == 0.0    # == missing_value
        assert got[(0, 0, 0)] == 0.0    # 0 < valid_min
        assert got[(3, 1, 0)] == 0.0    # 310 > valid_max
        assert got[(2, 1, 0)] == 1.0
        kept = a.apply_mask(m)
        vals = {r.value for r in kept.df.collect()}
        assert 121.0 not in vals and 310.0 not in vals and 0.0 not in vals
        assert 300.0 in vals            # valid_max is inclusive
        assert kept.df.count() == 24 - 1 - 2 - 5  # 121; 0,1; 301,310,311,320,321

    def test_resample_nearest_downsample(self, spark):
        # y: 3 -> 2, ratio 1.5; chosen src = floor((j+0.5)*1.5 + 1e-10)
        # -> j=0 picks y=0, j=1 picks y=2 (the RasterIO decimation rule)
        a = self._cube(spark).resampled({"y": (3, 2)}, alg="nearest")
        got = {(r.x, r.y, r.t): r.value for r in a.df.collect()}
        assert len(got) == 4 * 2 * 2
        assert got[(1, 0, 0)] == 100.0  # src y=0
        assert got[(1, 1, 0)] == 120.0  # src y=2
        assert (1, 2, 0) not in got

    def test_resample_nearest_upsample(self, spark):
        # x: 4 -> 8, ratio 0.5; each src x serves dst {2x, 2x+1}
        a = self._cube(spark).resampled({"x": (4, 8)}, alg="nearest")
        got = {(r.x, r.y, r.t): r.value for r in a.df.collect()}
        assert len(got) == 8 * 3 * 2
        assert got[(4, 1, 0)] == 210.0 and got[(5, 1, 0)] == 210.0
        assert got[(0, 0, 0)] == 0.0 and got[(7, 2, 1)] == 321.0

    def test_resample_average(self, spark):
        # x: 4 -> 2, integer factor 2: bin means of {0x,1x} and {2x,3x}
        a = self._cube(spark).resampled({"x": (4, 2)}, alg="average")
        got = {(r.x, r.y, r.t): r.value for r in a.df.collect()}
        assert got[(0, 1, 0)] == (10.0 + 110.0) / 2.0
        assert got[(1, 2, 1)] == (221.0 + 321.0) / 2.0
        import pytest as _pt
        with _pt.raises(ValueError):
            self._cube(spark).resampled({"x": (4, 3)}, alg="average")

    def test_unscaled(self, spark):
        # GetUnscaled (gdalmultidim.cpp:6672): value*scale + offset;
        # scale=1/offset=0 short-circuits to self; nodata rows drop
        a = self._cube(spark)
        assert a.unscaled(1.0, 0.0) is a
        u = a.unscaled(0.5, 10.0, src_nodata=121.0)
        got = {(r.x, r.y, r.t): r.value for r in u.df.collect()}
        assert got[(2, 1, 0)] == 210.0 * 0.5 + 10.0
        assert (1, 2, 1) not in got  # 121 was nodata
        assert len(got) == 23

    def test_combine_arithmetic(self, spark):
        a = self._cube(spark)
        b = a.unscaled(2.0, 0.0)
        s = a.combine(b, "add")
        got = {(r.x, r.y, r.t): r.value for r in s.df.collect()}
        assert got[(3, 2, 1)] == 321.0 * 3.0
        d = b.combine(a, "sub")
        got = {(r.x, r.y, r.t): r.value for r in d.df.collect()}
        assert got[(1, 1, 1)] == 111.0
        # missing cells propagate as absent (nodata discipline)
        holed = a.unscaled(1.0, 0.0, src_nodata=0.0)
        m = holed.combine(a, "mul")
        got = {(r.x, r.y, r.t): r.value for r in m.df.collect()}
        assert (0, 0, 0) not in got and len(got) == 23
        assert got[(2, 0, 1)] == 201.0 ** 2
        import pytest as _pt
        with _pt.raises(ValueError):
            a.combine(a.transpose(["t", "y", "x"]), "add")
        with _pt.raises(ValueError):
            a.combine(a, "pow")


class TestRepetitionAndSegmentDedup:
    def test_repetition_ratio_hand_golden(self, spark):
        from lib_gdal_spark.operators import textops

        docs = spark.createDataFrame([
            (0, "a b a b a b"),      # bigrams: ab,ba,ab,ba,ab -> 2/5 distinct
            (1, "one two three"),    # all distinct
            (2, "solo"),             # no bigram
        ], "doc_id long, text string")
        got = {r.doc_id: (r.n_ngrams, r.n_distinct, r.dup_ratio)
               for r in textops.repetition_ratio(docs).collect()}
        assert got[0] == (5, 2, 1.0 - 2.0 / 5.0)
        assert got[1] == (2, 2, 0.0)
        assert got[2] == (0, 0, 0.0)

    def test_segment_dedup_first_occurrence_wins(self, spark):
        from lib_gdal_spark.operators import textops

        docs = spark.createDataFrame([
            (0, "keep me. shared line. unique zero"),
            (1, "shared line. unique one"),    # loses 'shared line' to doc 0
            (2, "shared line"),                # everything duplicated -> empty
        ], "doc_id long, text string")
        got = {r.doc_id: r.text
               for r in textops.segment_dedup(docs).collect()}
        assert got[0] == "keep me.shared line.unique zero"
        assert got[1] == "unique one"
        assert got[2] == ""

    def test_segment_dedup_partition_invariant(self, spark):
        from lib_gdal_spark.operators import textops

        docs = spark.createDataFrame(
            [(i, f"common tail. body {i % 7}. extra {i}") for i in range(60)],
            "doc_id long, text string")
        a = sorted((r.doc_id, r.text)
                   for r in textops.segment_dedup(docs).collect())
        b = sorted((r.doc_id, r.text)
                   for r in textops.segment_dedup(docs.repartition(13)).collect())
        assert a == b
        # 'common tail' survives only in doc 0
        by = dict(a)
        assert by[0].startswith("common tail")
        assert not by[1].startswith("common tail")


class TestPageOps:
    def test_latest_snapshot_newest_wins(self, spark):
        from lib_gdal_spark.pages import ops as pops

        rows = [("u1", 100, 1), ("u1", 300, 2), ("u1", 300, 3),
                ("u2", 50, 4)]
        df = spark.createDataFrame(rows, "url string, warc_ts long, pid long")
        got = {r.url: (r.warc_ts, r.pid)
               for r in pops.latest_snapshot(df, tie_col="pid").collect()}
        assert got["u1"] == (300, 3)   # newest ts; tie -> largest pid
        assert got["u2"] == (50, 4)

    def test_incremental_dedup_bloom_equals_exact(self, spark):
        # the bloom prefilter is admit-only: whatever fpp, the final
        # result must equal the plain anti-join — checked across
        # partitionings and a deliberately tiny (collision-heavy) bitmap
        from lib_gdal_spark.pages import ops as pops

        seen = spark.createDataFrame(
            [(f"https://x.com/{i}",) for i in range(60)], "url string")
        new = spark.createDataFrame(
            [(i, f"https://x.com/{i}") for i in range(30, 90)],
            "pid long, url string")
        exact = sorted(r.pid for r in pops.incremental_dedup(
            new, seen, bloom=False).collect())
        assert exact == list(range(60, 90))
        for expected in (8, 1000):    # tiny bitmap forces false positives
            got = sorted(r.pid for r in pops.incremental_dedup(
                new.repartition(7), seen, expected_seen=expected).collect())
            assert got == exact, expected

    def test_incremental_dedup_bloom_prunes(self, spark):
        # with a roomy bitmap, novel urls short-circuit at the filter:
        # count the rows that reach the exact verify side
        from lib_gdal_spark.pages import ops as pops
        from pyspark.sql import functions as F

        seen = spark.createDataFrame(
            [(f"https://x.com/{i}",) for i in range(50)], "url string")
        new = spark.createDataFrame(
            [(i, f"https://x.com/{i}") for i in range(1000)],
            "pid long, url string")
        # reproduce the internal maybe-filter volume
        m = 8 * 1000
        out = pops.incremental_dedup(new, seen, expected_seen=1000)
        assert out.count() == 950
        # structural check: the plan contains the broadcast bitmap join
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    def test_host_extraction_and_stats(self, spark):
        from lib_gdal_spark.pages import ops as pops

        rows = [("https://a.com/x", "hello"), ("https://a.com/y", "worlds"),
                ("http://b.org/", "zz")]
        df = spark.createDataFrame(rows, "url string, text string")
        got = {r.host: (r.n_pages, r.total_chars)
               for r in pops.host_stats(df).collect()}
        assert got["a.com"] == (2, 11)
        assert got["b.org"] == (1, 2)


class TestKeepLatestStreaming:
    def test_stream_equals_batch_and_drops_stale(self, spark, tmp_path):
        import pandas as pd
        from lib_gdal_spark.streaming import stateful as sf

        src = tmp_path / "snap_src"
        src.mkdir()

        def land(name, rows):
            # Spark file sources require files to be placed ATOMICALLY
            # in the watched dir; a direct to_parquet races the stream's
            # listing against the footer write (flaked under full-suite
            # CPU load). Write outside, then rename in.
            import os
            staged = tmp_path / f"{name}.parquet.tmp"
            pd.DataFrame(rows, columns=["url", "warc_ts", "doc_id"]).to_parquet(staged)
            os.rename(staged, src / f"{name}.parquet")

        q = sf.latest_snapshot_stream(spark, str(src), n_buckets=4,
                                      query_name="t_latest")
        try:
            land("b0", [("u1", 100, 1), ("u2", 50, 2), ("u1", 300, 3)])
            q.processAllAvailable()
            # batch 2: a STALE crawl of u1 (ts 200 < 300) must emit
            # nothing; a fresher u2 must win
            land("b1", [("u1", 200, 4), ("u2", 90, 5)])
            q.processAllAvailable()
            hist = spark.sql("SELECT * FROM t_latest").collect()
        finally:
            q.stop()
        import pandas as _pd
        df = _pd.DataFrame([(r.url_h, r.warc_ts, r.doc_id) for r in hist],
                           columns=["url_h", "warc_ts", "doc_id"])
        # stale u1@200 never emitted
        assert 4 not in set(df.doc_id)
        # last emission per url == batch twin over all landed files
        last = df.groupby("url_h").tail(1).sort_values("url_h")
        batch = sf.latest_batch_twin(
            spark.read.schema(sf.PAGES_SCHEMA).parquet(str(src))).toPandas() \
            .sort_values("url_h")
        assert list(last.doc_id) == list(batch.doc_id)
        assert list(last.warc_ts) == list(batch.warc_ts)


class TestChecksumOperator:
    def test_matches_reference_sieve_expectation(self, spark):
        # chain the compat sieve into the distributed checksum operator:
        # the result must be the reference's own expected value (364 for
        # sieve test 1) — the operator IS GDALChecksumImage
        from lib_gdal_spark.operators import polygonize as pz, raster

        grid = TestSieveReferenceGolden.SIEVE_SRC
        nrows = len(grid)
        rows = [(c, nrows - 1 - r, float(v))
                for r, vals in enumerate(grid) for c, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "bx long, by long, value double")
        sieved = pz.sieve_gdal(df, threshold=2, connect8=False, block_bits=1)
        cs = raster.checksum(sieved, 0, 0, 5, 7).collect()[0].checksum
        assert cs == 364  # autotest/alg/sieve.py:37

    def test_offset_window_and_padded_canvas(self, spark):
        """autotest/alg/checksum.py test_checksum final cases: byte.tif
        written at offset (1,1) into a 21x21 zero canvas — the WINDOWED
        checksum (1,1,20,20) must still be 4672 (prime indexing is
        window-relative), while the full 21x21 canvas gives 4568 (the
        zero pad shifts every pixel's scan index; absent cells = 0)."""
        from lib_gdal_spark.operators.raster import checksum
        from lib_gdal_spark.sources import read_tiff
        from pyspark.sql import functions as F

        cells, _ = read_tiff(
            spark, "/root/reference/autotest/gcore/data/byte.tif")
        shifted = cells.select((F.col("bx") + 1).alias("bx"), "by", "value")
        assert checksum(shifted, 1, 0, 20, 20).collect()[0].checksum == 4672
        assert checksum(shifted, 0, 0, 21, 21).collect()[0].checksum == 4568

    def test_partition_invariant(self, spark):
        from lib_gdal_spark.operators import raster
        from pyspark.sql import functions as F

        g = spark.range(500).select(
            (F.col("id") % 25).alias("bx"),
            (F.col("id") / 25).cast("long").alias("by"),
            (F.col("id") * 13 % 251).cast("double").alias("value"),
        )
        a = raster.checksum(g, 0, 0, 25, 20).collect()[0].checksum
        b = raster.checksum(g.repartition(17), 0, 0, 25, 20).collect()[0].checksum
        assert a == b


class TestRasterizeReferenceGolden:
    """Replay of the reference's rasterize-lib autotest
    (autotest/utilities/test_gdal_rasterize_lib.py:28
    test_gdal_rasterize_lib_1): a rectangle polygon + a diagonal
    linestring burned at 220 into a 100x100 byte band, expected
    GDALChecksumImage 6452 — polygon parity fill AND the Bresenham line
    walk must both match the reference pixel for pixel."""

    def test_rasterize_lib_1_checksum(self, spark):
        from lib_gdal_spark.operators import raster

        # gt (1000, 1, 0, 1100, 0, -1) -> bottom-left origin (1000, 1000)
        ring = [(1020.0, 1030.0), (1020.0, 1045.0), (1050.0, 1045.0),
                (1050.0, 1030.0), (1020.0, 1030.0)]
        poly = raster.rasterize(spark, [(1, [ring])], {1: 220.0},
                                cell_size=1.0, origin=(1000.0, 1000.0))
        assert poly.count() == 450         # 30 x 15 center-parity fill
        line = raster.rasterize_lines(
            spark, [(1, [(1000.0, 1000.0), (1100.0, 1050.0)])], {1: 220.0},
            cell_size=1.0, origin=(1000.0, 1000.0), width=100, height=100)
        assert line.count() == 98          # 101-step walk, 3 off-raster
        cells = poly.unionByName(line).dropDuplicates(["bx", "by"])
        cs = raster.checksum(cells, 0, 0, 100, 100).collect()[0].checksum
        # The reference's published expectation is 6452
        # (test_gdal_rasterize_lib.py:86). A faithful transliteration of
        # its CURRENT GDALdllImageLine source (llrasterize.cpp:256 —
        # verified line by line, incl. the endpoint-skip rule and the
        # nError = nXError - nDeltaX / nError > 0 accumulator) yields
        # 6443: the delta is confined to the first in-bounds pixel of a
        # segment whose origin sits exactly ON the raster edge
        # (pixel-space start (0, 100.0) on a 100-row raster); 6452 is
        # reproduced only by an err>=0 accumulator or a reversed
        # traversal, neither of which is what the current source says.
        # We pin OUR value as the regression golden and record the
        # divergence rather than tune the walk to an expectation the
        # published algorithm text contradicts.
        assert cs == 6443

    def test_bresenham_simple_diagonal(self, spark):
        from lib_gdal_spark.operators.raster import _bresenham_polyline

        # 45-degree diagonal through pixel centers: one pixel per column
        got = _bresenham_polyline([0.5, 4.5], [0.5, 4.5], 10, 10)
        assert got == [(0, 0), (1, 1), (2, 2), (3, 3), (4, 4)]
        # horizontal line, final endpoint included
        got = _bresenham_polyline([0.0, 3.0], [1.5, 1.5], 10, 10)
        assert got == [(0, 1), (1, 1), (2, 1), (3, 1)]
        # intermediate vertex burned once (not twice) across segments
        got = _bresenham_polyline([0.0, 2.0, 4.0], [0.5, 0.5, 0.5], 10, 10)
        assert got == [(0, 0), (1, 0), (2, 0), (3, 0), (4, 0)]


class TestProximityReferenceGolden:
    """Replay of the reference's proximity autotest (autotest/alg/
    proximity.py test_proximity_1 over data/pat.tif — parsed directly:
    uncompressed single-strip 25x25 Byte TIFF). Expected checksum 1941.

    test_proximity_2 (MAXDIST=12 buffer) is deliberately NOT replayed:
    its expected checksum (3256) falls strictly between the exact-
    euclidean dist<12 and dist<=12 buffer sets (3218 / 3349), i.e. the
    reference's two-pass scan propagation (alg/gdalproximity.cpp,
    Danielsson-style) misestimates a handful of boundary-ring cells at
    distance exactly 12 — this engine computes exact euclidean distance
    and does not reproduce that approximation."""

    @staticmethod
    def _pat():
        b = open("/root/reference/autotest/alg/data/pat.tif", "rb").read()
        return np.frombuffer(b[251:251 + 625], dtype=np.uint8).reshape(25, 25)

    def test_proximity_1_checksum(self, spark):
        from lib_gdal_spark.operators import proximity, raster

        arr = self._pat()
        rows = [(c, 24 - r, float(arr[r, c]))
                for r in range(25) for c in range(25)]
        df = spark.createDataFrame(rows, "bx long, by long, value double")
        targets = sorted({float(v) for v in arr.ravel() if v != 0})
        out = proximity.proximity(df, targets, maxdist=34.0)
        # Byte output band: distance rounded int(d + 0.5), clamp 255;
        # run the distributed checksum operator on the rounded grid
        rounded = out.select(
            "bx", "by",
            F.least(F.floor(F.col("dist") + 0.5), F.lit(255.0)).alias("value"))
        cs = raster.checksum(rounded, 0, 0, 25, 25).collect()[0].checksum
        assert cs == 1941  # autotest/alg/proximity.py:35


class TestPansharpen:
    def test_brovey_hand_golden(self, spark):
        from lib_gdal_spark.operators import raster

        pan = spark.createDataFrame([(0, 0, 100.0), (1, 0, 50.0)],
                                    "bx long, by long, value double")
        r = spark.createDataFrame([(0, 0, 10.0), (1, 0, 4.0)],
                                  "bx long, by long, value double")
        g = spark.createDataFrame([(0, 0, 20.0), (1, 0, 8.0)],
                                  "bx long, by long, value double")
        out = {(x.bx, x.by): (x.r, x.g) for x in raster.pansharpen(
            pan, {"r": r, "g": g}).collect()}
        # default equal weights: pseudo = (10+20)/2 = 15; ratio 100/15
        assert out[(0, 0)] == (10.0 * (100.0 / 15.0), 20.0 * (100.0 / 15.0))
        assert out[(1, 0)] == (4.0 * (50.0 / 6.0), 8.0 * (50.0 / 6.0))

    def test_constant_ratio_preserves_spectrum(self, spark):
        from pyspark.sql import functions as F
        from lib_gdal_spark.operators import raster

        # when pan == pseudo_pan everywhere, bands pass through unchanged
        g = spark.range(40).select((F.col("id") % 8).alias("bx"),
                                   (F.col("id") / 8).cast("long").alias("by"),
                                   (F.col("id") + 1.0).alias("value"))
        out = raster.pansharpen(g, {"r": g}, weights={"r": 1.0})
        diff = out.join(g, on=["bx", "by"]).filter(F.col("r") != F.col("value"))
        assert diff.count() == 0


# ------------------------------------------- webtext pipeline (round 3)
class TestPiiRedact:
    def test_hand_golden(self, spark):
        df = spark.createDataFrame(
            [(0, "mail bob.smith@x.co and 10.0.0.1 or 999-123-4567 end"),
             (1, "no pii here at all"),
             (2, "two mails a@b.org c@d.io one ip 192.168.1.255")],
            "id long, text string",
        )
        out = textops.pii_redact(df).toPandas().set_index("id")
        assert out.loc[0, "n_email"] == 1
        assert out.loc[0, "n_ipv4"] == 1
        assert out.loc[0, "n_phone"] == 1
        assert out.loc[0, "text_redacted"] == \
            "mail <EMAIL> and <IPV4> or <PHONE> end"
        assert out.loc[1, ["n_email", "n_ipv4", "n_phone"]].sum() == 0
        assert out.loc[1, "text_redacted"] == "no pii here at all"
        assert out.loc[2, "n_email"] == 2 and out.loc[2, "n_ipv4"] == 1

    def test_no_tld_not_an_email(self, spark):
        df = spark.createDataFrame([(0, "ping a@b please")],
                                   "id long, text string")
        out = textops.pii_redact(df).toPandas()
        assert out.n_email[0] == 0
        assert out.text_redacted[0] == "ping a@b please"


class TestContamination:
    def test_hand_golden(self, spark):
        corpus = spark.createDataFrame(
            [(0, "a b c d e"), (1, "c d e f g"), (2, "x y z w v")],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame([(100, "a b c d e q")],
                                      "doc_id long, text string")
        out = dedup.contamination_check(corpus, bench, shingle_n=3) \
            .toPandas().set_index("doc_id")
        # bench 3-grams: {a b c, b c d, c d e, d e q}
        assert out.loc[0, "n_grams"] == 3 and out.loc[0, "n_hits"] == 3
        assert out.loc[0, "contam_frac"] == pytest.approx(1.0)
        assert out.loc[1, "n_hits"] == 1  # only "c d e"
        assert out.loc[1, "contam_frac"] == pytest.approx(1 / 3)
        assert out.loc[2, "n_hits"] == 0

    def test_empty_benchmark(self, spark):
        corpus = spark.createDataFrame([(0, "a b c d")],
                                       "doc_id long, text string")
        bench = corpus.filter("doc_id < 0")
        out = dedup.contamination_check(corpus, bench, shingle_n=2).toPandas()
        assert out.n_hits[0] == 0 and out.n_grams[0] == 3


class TestGopherRules:
    def test_hand_golden(self, spark):
        df = spark.createDataFrame(
            [(0, "the cat and the dog ran to the big house in a field"),
             (1, "$$$ ### !!!")],
            "doc_id long, text string",
        )
        out = textops.gopher_rules(df, min_words=5).toPandas() \
            .set_index("doc_id")
        # doc 0: 13 words, 39 token chars -> mean 3.0; stopword hits
        # {the, and, to, in, a} -> 5 distinct; no symbols
        assert out.loc[0, "word_count"] == 13
        assert out.loc[0, "mean_word_len"] == pytest.approx(3.0)
        assert out.loc[0, "symbol_frac"] == pytest.approx(0.0)
        assert out.loc[0, "stop_distinct"] == 5
        assert bool(out.loc[0, "passes_gopher"])
        # doc 1: zero words -> every rule fails
        assert out.loc[1, "word_count"] == 0
        assert out.loc[1, "symbol_frac"] == pytest.approx(9 / 11)
        assert not bool(out.loc[1, "passes_gopher"])


class TestUrlCanonicalize:
    def test_hand_goldens(self, spark):
        from lib_gdal_spark.pages import ops as pops

        cases = [
            (0, "HTTP://WWW.Example.COM:80/Path?b=2&a=1&#frag",
             "http://www.example.com/Path?a=1&b=2"),
            (1, "https://x.com:8443", "https://x.com:8443/"),
            (2, "http://a.com/", "http://a.com/"),
            (3, "HTTPS://A.com:443?x=1", "https://a.com/?x=1"),
            (4, "http://a.com/p#only-frag", "http://a.com/p"),
        ]
        df = spark.createDataFrame([(i, u) for i, u, _ in cases],
                                   "id long, url string")
        out = pops.url_canonicalize(df).toPandas().set_index("id")
        for i, _, want in cases:
            assert out.loc[i, "canonical_url"] == want, i

    def test_idempotent(self, spark):
        from lib_gdal_spark.pages import ops as pops

        df = spark.createDataFrame(
            [(0, "HTTP://B.com:80/x?z=1&y=2#f")], "id long, url string")
        once = pops.url_canonicalize(df).select(
            "id", F.col("canonical_url").alias("url"))
        twice = pops.url_canonicalize(once).toPandas()
        assert twice.canonical_url[0] == twice.url[0]


class TestCutline:
    """gdalwarp -cutline replays: autotest/alg/cutline.py on the
    reference's own utmsmall.tif (identity warp -> the cutline is the
    only transform, so the checksum isolates the masker)."""

    def _utmsmall(self, spark):
        from lib_gdal_spark.sources import read_tiff
        cells, meta = read_tiff(
            spark, "/root/reference/autotest/gcore/data/utmsmall.tif")
        return cells

    def test_cutline_noblend_11409(self, spark):
        from lib_gdal_spark.operators.raster import checksum, cutline_mask
        tri = [(1, [[(10, 10), (10, 50), (60, 50), (10, 10)]])]
        out = cutline_mask(spark, self._utmsmall(spark), tri, 100, 100)
        cs = checksum(out, 0, 0, 100, 100).collect()[0].checksum
        assert cs == 11409  # test_cutline_1

    def test_cutline_multipolygon_hole_20827(self, spark):
        from lib_gdal_spark.operators.raster import checksum, cutline_mask
        mp = [(1, [[(10, 10), (10, 50), (60, 50), (10, 10)]]),
              (2, [[(70, 70), (70, 100), (100, 100), (100, 70), (70, 70)],
                   [(80, 80), (80, 90), (90, 90), (90, 80), (80, 80)]])]
        out = cutline_mask(spark, self._utmsmall(spark), mp, 100, 100)
        cs = checksum(out, 0, 0, 100, 100).collect()[0].checksum
        assert cs == 20827  # test_cutline_3


class TestVerticalShiftGrid:
    """GDALApplyVerticalShiftGrid replays
    (autotest/alg/applyverticalshiftgrid.py)."""

    def _byte_20x40(self, spark):
        # byte.tif upsampled 20x20 -> 20x40 nearest (each row twice) —
        # the autotest's gdal.Translate(width=20, height=40)
        import numpy as np

        from lib_gdal_spark.sources.tiff import decode_tiff
        arr, _ = decode_tiff(open(
            "/root/reference/autotest/gcore/data/byte.tif", "rb").read())
        up = np.repeat(arr, 2, axis=0)
        h, w = up.shape
        rows = [(c, h - 1 - r, float(up[r, c]))
                for r in range(h) for c in range(w)]
        return spark.createDataFrame(rows, "bx long, by long, value double")

    def test_shift_by_self_10038(self, spark):
        from lib_gdal_spark.operators.raster import apply_vshift, checksum
        src = self._byte_20x40(spark)
        out = apply_vshift(src, src)  # grid == src, Byte saturation
        cs = checksum(out, 0, 0, 20, 40).collect()[0].checksum
        assert cs == 10038  # test_applyverticalshiftgrid_1

    def test_inverse_self_is_zero(self, spark):
        from lib_gdal_spark.operators.raster import apply_vshift, checksum
        src = self._byte_20x40(spark)
        out = apply_vshift(src, src, inverse=True, dtype="float32")
        cs = checksum(out, 0, 0, 20, 40).collect()[0].checksum
        assert cs == 0

    def test_nodata_cases(self, spark):
        from lib_gdal_spark.operators.raster import apply_vshift, checksum
        one = spark.createDataFrame([(0, 0, 1.0)],
                                    "bx long, by long, value double")
        grid30 = spark.createDataFrame([(0, 0, 30.0)],
                                       "bx long, by long, value double")
        # nodata on source: the nodata pixel passes through -> cs 1
        out = apply_vshift(one, grid30, src_nodata=1.0)
        assert checksum(out, 0, 0, 1, 1).collect()[0].checksum == 1
        # nodata on grid (modeled as absent cell): shift 0 -> cs 1
        empty = grid30.filter("value < 0")
        out2 = apply_vshift(one, empty)
        assert checksum(out2, 0, 0, 1, 1).collect()[0].checksum == 1


class TestResize:
    def test_reference_resize_checksum_1192(self, spark):
        # autotest/utilities/test_gdalalg_raster_resize.py: byte.tif
        # (20x20) --size=10,10 nearest -> Checksum() == 1192; pins the
        # RasterIO decimation rule (2i+1 child), NOT the overview rule
        from lib_gdal_spark.operators import raster
        from lib_gdal_spark.sources import read_tiff

        cells, _ = read_tiff(
            spark, "/root/reference/autotest/gcore/data/byte.tif")
        out = raster.resize(cells, 20, 20, 10, 10)
        assert out.count() == 100
        cs = raster.checksum(out, 0, 0, 10, 10).collect()[0].checksum
        assert cs == 1192

    def test_identity_resize_is_identity(self, spark):
        from lib_gdal_spark.operators import raster

        cells = spark.createDataFrame(
            [(x, y, float(10 * y + x)) for x in range(4) for y in range(3)],
            "bx long, by long, value double")
        out = raster.resize(cells, 4, 3, 4, 3)
        assert sorted(map(tuple, out.collect())) == \
            sorted(map(tuple, cells.collect()))

    def test_upsample_rows_hand_golden(self, spark):
        # 2x1 -> 4x2: sx = floor((ox+0.5)*0.5 + eps) = [0,0,1,1]; both
        # output rows copy the single source row
        from lib_gdal_spark.operators import raster

        cells = spark.createDataFrame([(0, 0, 5.0), (1, 0, 9.0)],
                                      "bx long, by long, value double")
        got = sorted((r.bx, r.by, r.value)
                     for r in raster.resize(cells, 2, 1, 4, 2).collect())
        assert got == [(0, 0, 5.0), (0, 1, 5.0), (1, 0, 5.0), (1, 1, 5.0),
                       (2, 0, 9.0), (2, 1, 9.0), (3, 0, 9.0), (3, 1, 9.0)]


class TestTranslate:
    def test_reference_srcwin_checksum_2(self, spark):
        # autotest test_gdal_translate_lib_10: byte.tif srcWin=(0,0,1,1)
        # -> Checksum() == 2
        from lib_gdal_spark.operators import raster
        from lib_gdal_spark.sources import read_tiff

        cells, _ = read_tiff(
            spark, "/root/reference/autotest/gcore/data/byte.tif")
        out = raster.translate(cells, 20, 20, srcwin=(0, 0, 1, 1))
        assert out.count() == 1
        assert raster.checksum(out, 0, 0, 1, 1).collect()[0].checksum == 2

    def test_reference_upsample_checksum_18784(self, spark):
        # autotest test_gdal_translate_lib_6/7: byte.tif width=40
        # height=40 (2x nearest upsample) -> Checksum() == 18784
        from lib_gdal_spark.operators import raster
        from lib_gdal_spark.sources import read_tiff

        cells, _ = read_tiff(
            spark, "/root/reference/autotest/gcore/data/byte.tif")
        out = raster.translate(cells, 20, 20, outsize=(40, 40))
        cs = raster.checksum(out, 0, 0, 40, 40).collect()[0].checksum
        assert cs == 18784

    def test_srcwin_then_outsize_then_scale(self, spark):
        # 4x2 grid, crop the top-right 2x1, upsample x2, stretch 0..10
        # to 0..100 — every stage hand-checkable
        from lib_gdal_spark.operators import raster

        cells = spark.createDataFrame(
            [(x, y, float(x + 4 * y)) for x in range(4) for y in range(2)],
            "bx long, by long, value double")
        # top row is by=1 (values 4..7); srcwin row 0 = that row
        out = raster.translate(cells, 4, 2, srcwin=(2, 0, 2, 1),
                               outsize=(4, 1),
                               scale=(0.0, 10.0, 0.0, 100.0))
        got = sorted((r.bx, r.by, r.value) for r in out.collect())
        assert got == [(0, 0, 60.0), (1, 0, 60.0),
                       (2, 0, 70.0), (3, 0, 70.0)]


class TestTileRender:
    def test_render_png_pixels_roundtrip(self, spark):
        # two subtiles of tile (0,0) at z=0, pixel_zoom=2 (4x4 image):
        # subtile (1,2) count 5 -> pixel (px=1, py=2) value 5; count 300
        # clamps to 255
        from lib_gdal_spark.operators import tiles
        from lib_gdal_spark.sources.png import decode_png
        import numpy as np

        base = spark.createDataFrame(
            [(2, 1, 2, 5), (2, 3, 0, 300)],
            "z int, x long, y long, n_pages long")
        out = tiles.render_png(base, z=0, pixel_zoom=2).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.z, r.x, r.y, r.nnz) == (0, 0, 0, 2)
        arr, meta = decode_png(bytes(r.png))
        want = np.zeros((4, 4), np.uint8)
        want[2, 1] = 5
        want[0, 3] = 255
        assert np.array_equal(arr, want)

    def test_render_checksum_matches_canonical_aggregate(self, spark):
        # the decoded-PNG checksum must equal raster.checksum over the
        # same pixel grid (the canonical aggregate that replays GDAL's
        # own 364/1941 expectations)
        from lib_gdal_spark.operators import tiles, raster
        from pyspark.sql import functions as F

        base = spark.createDataFrame(
            [(3, x, y, (x * 7 + y * 13) % 20 + 1)
             for x in range(8) for y in range(8)],
            "z int, x long, y long, n_pages long")
        got = tiles.render_checksums(base, z=0, pixel_zoom=3).collect()[0]
        # same grid as (bx, by) cells: raster.checksum scans top-down,
        # row 0 = by y0+height-1 -> feed by = 7 - py
        cells = spark.createDataFrame(
            [(x, 7 - y, float((x * 7 + y * 13) % 20 + 1))
             for x in range(8) for y in range(8)],
            "bx long, by long, value double")
        want = raster.checksum(cells, 0, 0, 8, 8).collect()[0].checksum
        assert got.checksum == want and got.nnz == 64

    def test_write_png_tiles_gdal2tiles_layout(self, spark, tmp_path):
        from lib_gdal_spark.operators import tiles
        from lib_gdal_spark.sources.png import decode_png
        import numpy as np, os

        # base at z=2 (pixel_zoom=2 -> tiles at z=0 are 4x4 images)
        base = spark.createDataFrame(
            [(2, x, y, x + y + 1) for x in range(4) for y in range(4)],
            "z int, x long, y long, n_pages long")
        man = tiles.write_png_tiles(base, str(tmp_path), [0],
                                    pixel_zoom=2).collect()
        assert len(man) == 1
        m = man[0]
        assert m.path == os.path.join(str(tmp_path), "0", "0", "0.png")
        arr, _ = decode_png(open(m.path, "rb").read())
        want = np.array([[x + y + 1 for x in range(4)] for y in range(4)],
                        dtype=np.uint8)
        assert np.array_equal(arr, want)
        assert m.nnz == 16 and m.n_bytes == os.path.getsize(m.path)

    def test_write_png_tiles_resume(self, spark, tmp_path):
        """gdal2tiles --resume parity: a second run against the
        committed manifest renders/writes ONLY the new tiles; the
        manifest table accumulates both runs."""
        import os

        from lib_gdal_spark.operators import tiles

        base = spark.createDataFrame(
            [(2, x, y, x + y + 1) for x in range(4) for y in range(4)]
            + [(3, x, y, 1) for x in range(8) for y in range(8)],
            "z int, x long, y long, n_pages long")
        mpath = str(tmp_path / "_manifest")
        out = str(tmp_path / "tiles")
        # first run: z=1 only (4 tiles)
        m1 = tiles.write_png_tiles(base, out, [1], pixel_zoom=2,
                                   manifest_path=mpath,
                                   resume=True).collect()
        assert len(m1) == 4
        # tamper one output file so we can prove it is NOT rewritten
        victim = sorted(r.path for r in m1)[0]
        with open(victim, "wb") as f:
            f.write(b"tampered")
        # second run: z=0 and z=1 — z=1 must be skipped wholesale
        m2 = tiles.write_png_tiles(base, out, [0, 1], pixel_zoom=2,
                                   manifest_path=mpath,
                                   resume=True).collect()
        assert {(r.z, r.x, r.y) for r in m2} == {(0, 0, 0)}
        assert open(victim, "rb").read() == b"tampered"  # untouched
        committed = spark.read.parquet(mpath)
        assert committed.count() == 5
        # resume without a manifest path is a usage error
        import pytest as _pt
        with _pt.raises(ValueError):
            tiles.write_png_tiles(base, out, [0], pixel_zoom=2,
                                  resume=True)

    def test_render_png_rgba_transparency(self, spark):
        # gdal2tiles' actual tile format: RGBA with alpha 0 on empty
        # pixels, 255 on data pixels (tilebands = dataBandsCount + 1)
        from lib_gdal_spark.operators import tiles
        from lib_gdal_spark.sources.png import decode_png
        import numpy as np

        base = spark.createDataFrame(
            [(2, 1, 2, 5)], "z int, x long, y long, n_pages long")
        r = tiles.render_png(base, z=0, pixel_zoom=2, mode="rgba").collect()[0]
        bands, meta = decode_png(bytes(r.png))  # decoder is band-first
        assert bands.shape == (4, 4, 4) and meta["color_type"] == 6
        arr = np.transpose(bands, (1, 2, 0))  # -> (h, w, rgba)
        assert arr[2, 1].tolist() == [5, 5, 5, 255]
        assert arr[0, 0].tolist() == [0, 0, 0, 0]
        assert (arr[:, :, 3] != 0).sum() == 1 and r.nnz == 1

    def test_negative_measure_clamps_not_wraps(self, spark):
        # a negative measure must clamp to 0, never wrap through uint8
        from lib_gdal_spark.operators import tiles
        from lib_gdal_spark.sources.png import decode_png
        import numpy as np
        base = spark.createDataFrame(
            [(2, 1, 2, -1), (2, 0, 0, 7)],
            "z int, x long, y long, n_pages long")
        r = tiles.render_png(base, z=0, pixel_zoom=2).collect()[0]
        arr, _ = decode_png(bytes(r.png))
        assert arr[2, 1] == 0 and arr[0, 0] == 7 and r.nnz == 1

    def test_write_png_tiles_empty_zooms_raises(self, spark, tmp_path):
        from lib_gdal_spark.operators import tiles
        import pytest
        base = spark.createDataFrame(
            [(2, 0, 0, 1)], "z int, x long, y long, n_pages long")
        with pytest.raises(ValueError, match="zooms is empty"):
            tiles.write_png_tiles(base, str(tmp_path), [])

    def test_write_png_tiles_rgba_mode(self, spark, tmp_path):
        from lib_gdal_spark.operators import tiles
        from lib_gdal_spark.sources.png import decode_png
        base = spark.createDataFrame(
            [(2, 0, 0, 9)], "z int, x long, y long, n_pages long")
        man = tiles.write_png_tiles(base, str(tmp_path), [0],
                                    pixel_zoom=2, mode="rgba").collect()
        bands, meta = decode_png(open(man[0].path, "rb").read())
        assert meta["color_type"] == 6 and bands.shape == (4, 4, 4)
