"""The library's batch jobs (plans/flagship.py) against NumPy and pandas
recomputations, and the two scaling scripts that run them."""

import hashlib
import json
import math
import os
import re
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import _parse_datatype_string

import __spark_entry__ as em
from lib_gdal_spark import metrics
from lib_gdal_spark.geo import mercator
from lib_gdal_spark.pages.synth import synth_pages_pdf
from lib_gdal_spark.plans import curate, flagship
from lib_gdal_spark.plans.flagship import TILE_ZOOM

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N = 3000


@pytest.fixture(scope="module")
def pages_pdf():
    return synth_pages_pdf(np.arange(N, dtype=np.int64), seed=7)


@pytest.fixture(scope="module")
def pages(spark, pages_pdf, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("flagship") / "pages")
    spark.createDataFrame(pages_pdf[["url", "text", "lang"]]) \
        .repartition(4).write.parquet(path)
    return spark.read.parquet(path)


def _geotags(texts):
    tags = [t.rsplit("@", 1)[1].split(",") for t in texts]
    return (np.array([float(b) for _, b in tags]),
            np.array([float(a) for a, _ in tags]))


def _join_oracle(lon, lat) -> int:
    """Matches of the contract rectangles: ray-cast containment in an
    axis-aligned rectangle is [xmin, xmax) x [ymin, ymax)."""
    return sum(int(((lon >= x0) & (lon < x1) & (lat >= y0) & (lat < y1)).sum())
               for _, x0, y0, x1, y1 in em._RECTS)


def _tile_oracle(lon, lat) -> dict:
    """zoom -> (distinct non-empty tiles, pages)."""
    tx, ty = mercator.lonlat_to_tile_np(lon, lat, TILE_ZOOM)
    out = {}
    for z in range(TILE_ZOOM + 1):
        s = TILE_ZOOM - z
        out[z] = (len(np.unique(((tx >> s) << np.int64(z)) | (ty >> s))), len(lon))
    return out


class TestFlagship:
    def test_matches_oracle_with_metrics_and_no_recount(
            self, spark, pages, pages_pdf, tmp_path, monkeypatch):
        lon, lat = _geotags(pages_pdf.text)
        want_join = _join_oracle(lon, lat)
        assert want_join > 0
        jsc = spark.sparkContext._jsc
        # earlier tests' cached frames may be cleaned up meanwhile, so the
        # check is that no persistent RDD is added, not an equal count
        before = set(jsc.getPersistentRDDs().keys())

        def no_count(self):
            raise AssertionError("flagship counted a DataFrame")

        monkeypatch.setattr(DataFrame, "count", no_count)
        outs = [str(tmp_path / f"run{i}") for i in range(3)]
        results = [flagship(pages, em._rect_polyset(), out) for out in outs]
        monkeypatch.undo()

        assert set(jsc.getPersistentRDDs().keys()) <= before
        want_tiles = _tile_oracle(lon, lat)
        for res, out in zip(results, outs):
            assert res == {"join_rows": want_join,
                           "tiles": sum(t for t, _ in want_tiles.values())}
            assert spark.read.parquet(os.path.join(out, "joined")).count() == want_join
            got = {int(r["z"]): (int(r["tiles"]), int(r["pages"])) for r in
                   spark.read.parquet(os.path.join(out, "pyramid")).groupBy("z")
                   .agg(F.count("*").alias("tiles"),
                        F.sum("n_pages").alias("pages")).collect()}
            assert got == want_tiles
            m = spark.read.parquet(os.path.join(out, "_metrics"))
            assert m.schema == _parse_datatype_string(metrics.METRICS_SCHEMA)
            sums = m.groupBy("stage").agg(F.sum("input_rows")).collect()
            assert dict(sums) == {"spatial_join": want_join, "geocode_cell": N}


_TOK = re.compile(r"[a-z0-9]+")
_NON_ALNUM = re.compile(r"[^a-zA-Z0-9]")


def _curated_urls(pdf: pd.DataFrame) -> list:
    """The curate chain in pandas: quality gate (>= 3 tokens, alnum ratio
    > 0.3) -> min url per distinct text -> docs with a shingle ->
    keep url iff md5-unit-hash(url) < min(1, 0.5 * sqrt(n_max / n_lang))."""
    text = pdf["text"]
    n_tok = text.map(lambda t: len(_TOK.findall(t.lower())))
    alpha = text.map(lambda t: len(_NON_ALNUM.sub("", t)))
    n_chars = text.str.len()
    ratio = np.where(n_chars > 0, alpha / n_chars.clip(lower=1), 0.0)
    kept = pdf[(n_tok >= 3) & (ratio > 0.3)]
    uniq = kept.loc[kept.groupby("text")["url"].idxmin()]
    sig = uniq[uniq["text"].map(lambda t: len(_TOK.findall(t.lower())) > 0)]
    n_g = sig.groupby("lang")["url"].count()
    n_max = int(n_g.max())
    rate = {g: min(1.0, 0.5 * math.sqrt(n_max / float(c))) for g, c in n_g.items()}

    def unit_hash(u):
        return int(hashlib.md5(("temp|" + u).encode()).hexdigest()[:13], 16) / 2.0 ** 52

    return sorted(u for u, g in zip(sig["url"], sig["lang"]) if unit_hash(u) < rate[g])


class TestCurate:
    def test_matches_pandas(self, spark, pages_pdf):
        # exact copies under fresh urls give the dedup stage work to do
        pdf = pages_pdf[["url", "text", "lang"]]
        dup = pdf.iloc[::7].assign(url=lambda d: "https://mirror.example.org/" + d.url)
        pdf = pd.concat([pdf, dup], ignore_index=True)
        got = sorted(r.url for r in curate(spark.createDataFrame(pdf))
                     .select("url").collect())
        want = _curated_urls(pdf)
        assert 0 < len(want) < len(dup) + N
        assert got == want


def _run_script(name: str, tmp_path) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SCALING_REPS="1")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", name), "2000",
         str(tmp_path / "out"), str(tmp_path / "pages")],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


class TestScalingScripts:
    def test_scaling_job(self, tmp_path):
        res = _run_script("scaling_job.py", tmp_path)
        assert (res["n_pages"], res["join_rows"], res["tiles"]) == (2000, 144, 8744)

    def test_scaling_job_dedup(self, tmp_path):
        res = _run_script("scaling_job_dedup.py", tmp_path)
        assert (res["n_pages"], res["curated_rows"]) == (2000, 1011)
