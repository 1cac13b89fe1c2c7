"""ingest: the flagship batch job, shaped as scripts/scaling_job.py runs it.

One pass = geocode the pages' text -> z12 cell index -> broadcast-cover +
exact-PIP spatial join -> joined parquet sink -> lineage metrics; then
geocode again -> z0..z12 tile pyramid -> pyramid parquet sink -> lineage
metrics. sjoin, geo.pip and tiles do nearly all the work; the text layers
sit idle.

Check per pass: joined row count and per-zoom tile counts (and pages per
zoom) equal a NumPy recomputation from the generated lat/lon.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import harness
import inputs

N_PAGES = 80_000
FILES = 8
# one cold pass starts the Python workers and compiles the plans; after it
# a pass's CPU time still falls by a few per cent a pass while the JVM
# warms (a second warm-up pass did not narrow the spread over seeds), and
# the window's median pass sits on that slope
WARMUP_PASSES = 1
MIN_PASSES = 3

LAYER_SPANS = {
    "sjoin.geocode": "sjoin.geocode_s",
    "sjoin.join": "sjoin.join_s",
    "tiles.pyramid": "tiles.pyramid_s",
    "tiles.write": "tiles.write_s",
    "metrics.record": "metrics.record_s",
}


class Ingest:
    def __init__(self, b: harness.Bench, n_pages: int = N_PAGES,
                 warmup: int = WARMUP_PASSES):
        import __spark_entry__ as em

        self.b = b
        self.n = n_pages
        self.src_path = b.path("pages")
        self.out = b.path("out")
        pdf = b.timed_median("pages.synth", self._synth)
        lon, lat = inputs.geotags(pdf["text"])
        self.expected_join = len(inputs.rect_hits(lon, lat))
        self.expected_tiles = inputs.tile_counts(*inputs.tile_keys(lon, lat))
        self.polys = em._rect_polyset()
        self.src = b.spark.read.parquet(self.src_path)
        harness.warm_up(b, self.one_pass, warmup)

    def _synth(self):
        pdf = inputs.pages(self.n, self.b.seed)
        inputs.write_parquet(pdf, self.src_path, FILES)
        return pdf

    def one_pass(self) -> dict:
        """One pipeline pass; returns what the check needs."""
        from lib_gdal_spark import metrics
        from lib_gdal_spark.operators import sjoin, tiles

        b, tr, spark, src = self.b, self.b.tracer, self.b.spark, self.src
        jpath = os.path.join(self.out, "joined")
        ppath = os.path.join(self.out, "pyramid")
        mpath = os.path.join(self.out, "_metrics")
        res = {}
        with tr.span("sjoin.geocode"):
            pts = tr.stage(sjoin.with_tile(
                sjoin.geocode(src.select("url", "text"), fast=True), zoom=inputs.MAX_ZOOM
            ).select("url", "lon", "lat", "tile_x", "tile_y"))
        if tr.on:
            # candidate count of the cell + envelope phase, so the exact
            # PIP kernel's hit ratio can be reported (not a layer span)
            with tr.span("probe.sjoin_candidates"):
                res["candidates"] = sjoin.spatial_join(
                    pts, self.polys, zoom=inputs.JOIN_ZOOM, exact=False).count()
        with tr.span("sjoin.join"):
            sjoin.spatial_join(pts, self.polys, zoom=inputs.JOIN_ZOOM,
                               how="inner").write.mode("overwrite").parquet(jpath)
            joined = spark.read.parquet(jpath)
            res["join_rows"] = joined.count()
        with tr.span("metrics.record"):
            metrics.record(joined, "spatial_join", mpath)
        with tr.span("sjoin.geocode"):
            geo = tr.stage(sjoin.with_tile(
                sjoin.geocode(src.select("text"), fast=True), zoom=inputs.MAX_ZOOM
            ).select("tile_x", "tile_y"))
        with tr.span("tiles.pyramid"):
            pyr = tr.stage(tiles.tile_pyramid(geo, max_zoom=inputs.MAX_ZOOM,
                                              min_zoom=0))
        with tr.span("tiles.write"):
            tiles.write_pyramid(pyr, ppath)
        with tr.span("metrics.record"):
            metrics.record(src.select(F.lit(1).alias("one")), "geocode_cell", mpath)
        return res

    def check(self, res: dict) -> list[str]:
        errors = []
        if res["join_rows"] != self.expected_join:
            errors.append(f"join rows {res['join_rows']} != {self.expected_join}")
        got = {int(r["z"]): (int(r["tiles"]), int(r["pages"])) for r in
               self.b.spark.read.parquet(os.path.join(self.out, "pyramid"))
               .groupBy("z").agg(F.count("*").alias("tiles"),
                                 F.sum("n_pages").alias("pages")).collect()}
        want = {z: (n, self.n) for z, n in self.expected_tiles.items()}
        if got != want:
            bad = sorted(z for z in set(got) | set(want) if got.get(z) != want.get(z))
            errors.append(f"pyramid (tiles, pages) differ at zooms {bad}")
        res["tiles"] = got
        return errors


def pyramid_files(path: str) -> tuple[int, float]:
    """(parquet file count, MB) under a written pyramid."""
    n, size = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size / (1024.0 * 1024.0)


def run(b: harness.Bench, n_pages: int = N_PAGES,
        warmup: int = WARMUP_PASSES, min_passes: int = MIN_PASSES) -> dict:
    w = Ingest(b, n_pages, warmup)
    passes = harness.batch_window(b, "ingest.pass", w.one_pass, w.check,
                                  min_passes)
    result = harness.batch_result(passes, w.n)
    if b.traced:
        traced = [p for p in passes if p["traced"] and "out" in p]
        roots = [p["root"] for p in traced]
        layers = harness.layer_seconds(b.tracer, roots, LAYER_SPANS)
        cand = harness.median(p["out"]["candidates"] for p in traced)
        match = harness.median(p["out"]["join_rows"] for p in traced)
        last = traced[-1]["out"]["tiles"] if traced else {}
        files, mb = pyramid_files(os.path.join(w.out, "pyramid"))
        layers.update({
            "sjoin.candidates": (cand, "count"),
            "sjoin.matches": (match, "count"),
            "sjoin.pip_hit_ratio": (match / cand if cand else 0.0, "ratio"),
            "tiles.base_rows": (last.get(inputs.MAX_ZOOM, (0, 0))[0], "count"),
            "tiles.rows": (sum(t for t, _ in last.values()), "count"),
            "tiles.files": (files, "count"),
            "tiles.bytes_mb": (mb, "MB"),
        })
        result["layers"] = layers
        result["roots"] = roots
    result["overhead"] = harness.trace_overhead(passes)
    return result
