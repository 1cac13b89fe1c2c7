"""serve: a closed loop of requests against a warm session.

One client sends its next request only after the last one returned
(a closed loop). Every block of five consecutive requests holds each type
once, in an order and with parameters drawn from (seed, request number),
so the mix is the same for every seed. The types share one PolygonSet,
one cached target table, one pyramid written at set-up and one documents
table:

- pip:    PIP_POINTS points through sjoin.spatial_join;
- knn:    KNN_QUERIES queries through knn.knn_ring (k=3);
- tile:   a bbox x zoom read of the pyramid tiles.write_pyramid wrote;
- bm25:   relevance.bm25_topk top-10 over the documents;
- curate: a crawl segment (CURATE_PAGES pages plus DUP_FRAC exact
  duplicates under fresh urls) through scripts/scaling_job_dedup.py's
  chain (`curate_chain`): textops.quality_score -> dedup.exact_dedup ->
  dedup.minhash_signature -> sampling.temperature_resample.

Each request is mostly fixed cost (planning, the driver-side cover_cells
build, broadcasts, Python workers, job scheduling), so a fixed-cost change
shows here and a bulk change shows on ingest.

Checks, after the window: pip and knn against NumPy brute force, tile
against NumPy tile counts, bm25 against the duckdb twin
(__spark_entry__.oracle_sql()["bm25_topk"]), curate against a pandas
recomputation of the curated urls (and, when traced, of the
distinct-text and signature-row counts).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import harness
import inputs

N_PAGES = 20_000
FILES = 4
KINDS = ("pip", "knn", "tile", "bm25", "curate")
PIP_POINTS = 100
KNN_QUERIES = 10
KNN_K = 3
KNN_CELL = 8.0
TILE_RADIUS = 2
CURATE_PAGES = 300
DUP_FRAC = 0.25
# after one warm-up block the first measured block still ran 10-20 % more
# CPU than the next two; a second one takes that out of the window
WARMUP_ROUNDS = 2
MIN_BLOCKS = 3

CURATE_SPANS = {
    "textops.quality": "textops.quality_s",
    "dedup.exact": "dedup.exact_s",
    "dedup.minhash": "dedup.minhash_s",
    "sampling.resample": "sampling.resample_s",
}


def curate_chain(tr: harness.Tracer, src):
    """quality gate -> exact dedup -> MinHash -> temperature resample.
    Returns (curated, counts): the resampled DataFrame and the stage row
    counts (kept, distinct_texts, signature_rows), which are there only
    when tracing materializes the stages."""
    from lib_gdal_spark.operators import dedup, sampling, textops

    spans = {}
    with tr.span("textops.quality") as spans["kept"]:
        kept = tr.stage(textops.quality_score(src.select("url", "text", "lang"))
                        .filter((F.col("n_tokens") >= 3) & (F.col("alpha_ratio") > 0.3))
                        .select("url", "text", "lang"))
    with tr.span("dedup.exact") as spans["distinct_texts"]:
        uniq = tr.stage(dedup.exact_dedup(kept, "url", "text"))
    with tr.span("dedup.minhash") as spans["signature_rows"]:
        sigs = tr.stage(dedup.minhash_signature(uniq, "url", "text",
                                                n_hashes=8, shingle_n=3))
    curated = sampling.temperature_resample(uniq.join(sigs, "url"), "lang",
                                            "url", alpha=0.5, frac=0.5)
    counts = {k: sp["rows"] for k, sp in spans.items() if sp and "rows" in sp}
    return curated, counts


class Serve:
    def __init__(self, b: harness.Bench, n_pages: int = N_PAGES,
                 warmup: int = WARMUP_ROUNDS):
        import __spark_entry__ as em

        self.b = b
        self.em = em
        self.pyr_path = b.path("pyramid")
        pdf = b.timed_median("pages.synth", self._synth, n_pages)
        self.pages = pdf[["url", "text", "lang"]]
        self.lon, self.lat = inputs.geotags(pdf["text"])
        self.n = len(pdf)
        self.tx, self.ty = inputs.tile_keys(self.lon, self.lat)
        b.timed("tiles.build", self._build_pyramid)
        self.pyr = b.spark.read.parquet(self.pyr_path)
        self.tid = np.arange(self.n, dtype=np.int64)
        self.targets = b.timed("knn.targets", self._targets)
        self.docs = b.spark.read.parquet(b.path("docs"))
        self.bm25_expected = self._bm25_oracle()  # not the library's set-up
        self.polys = em._rect_polyset()
        for r in range(warmup):
            with b.tracer.tracing(r % 2 == 1):
                for j, kind in enumerate(KINDS):
                    rec = b.timed("warmup", self.request, -1 - r * len(KINDS) - j, kind)
                    errors = self.check(rec)
                    if errors:
                        raise RuntimeError(f"warm-up {kind} failed: {errors}")

    def _synth(self, n_pages: int):
        pdf = inputs.pages(n_pages, self.b.seed)
        inputs.write_parquet(pdf, self.b.path("pages"), FILES)
        docs = pd.DataFrame({"doc_id": np.arange(n_pages, dtype=np.int64),
                             "text": pdf["text"]})
        inputs.write_parquet(docs, self.b.path("docs"), FILES)
        return pdf

    def _build_pyramid(self):
        from lib_gdal_spark.operators import sjoin, tiles

        src = self.b.spark.read.parquet(self.b.path("pages"))
        geo = sjoin.with_tile(sjoin.geocode(src.select("text"), fast=True),
                              zoom=inputs.MAX_ZOOM)
        pyr = tiles.tile_pyramid(geo.select("tile_x", "tile_y"),
                                 max_zoom=inputs.MAX_ZOOM, min_zoom=0)
        tiles.write_pyramid(pyr, self.pyr_path)
        self.b.spark.catalog.clearCache()

    def _targets(self):
        df = self.b.spark.createDataFrame(
            pd.DataFrame({"tid": self.tid, "tx": self.lon, "ty": self.lat}),
            "tid long, tx double, ty double").cache()
        df.count()
        return df

    def _bm25_oracle(self) -> list[tuple]:
        import duckdb

        con = duckdb.connect()
        try:
            glob = os.path.join(self.b.path("docs"), "*.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')")
            rows = con.sql(self.em.oracle_sql()["bm25_topk"]).fetchall()
        finally:
            con.close()
        return [(int(d), float(s), int(r)) for d, s, r in rows]

    # ---------------------------------------------------------------- requests

    def params(self, i: int, kind: str | None = None) -> tuple[str, dict]:
        """Request i's type and parameters, a pure function of (seed, i)."""
        seed = self.b.seed % (1 << 31)
        if kind is None:
            order = np.random.default_rng(
                [seed, (i // len(KINDS)) % (1 << 31), 11]).permutation(len(KINDS))
            kind = KINDS[order[i % len(KINDS)]]
        rng = np.random.default_rng([seed, i % (1 << 31), 7])
        if kind == "pip":
            return kind, {"lon": rng.uniform(-90.0, 170.0, PIP_POINTS),
                          "lat": rng.uniform(-60.0, 70.0, PIP_POINTS)}
        if kind == "knn":
            pick = rng.integers(0, self.n, KNN_QUERIES)
            return kind, {"qx": self.lon[pick] + rng.uniform(-0.05, 0.05, KNN_QUERIES),
                          "qy": self.lat[pick] + rng.uniform(-0.05, 0.05, KNN_QUERIES)}
        if kind == "tile":
            z = int(rng.integers(4, inputs.MAX_ZOOM + 1))
            j = int(rng.integers(self.n))
            x, y = (int(v[0]) for v in inputs.mercator.lonlat_to_tile_np(
                self.lon[j:j + 1], self.lat[j:j + 1], z))
            return kind, {"z": z, "x0": x - TILE_RADIUS, "x1": x + TILE_RADIUS,
                          "y0": y - TILE_RADIUS, "y1": y + TILE_RADIUS}
        if kind == "curate":
            j = int(rng.integers(0, self.n - CURATE_PAGES))
            seg = self.pages.iloc[j:j + CURATE_PAGES]
            return kind, {"segment": inputs.with_duplicates(
                seg, DUP_FRAC, int(rng.integers(1 << 31)))}
        return kind, {}

    def call(self, kind: str, p: dict):
        """Send one request through the library; returns its answer."""
        from lib_gdal_spark.operators import knn, relevance, sjoin

        spark, tr = self.b.spark, self.b.tracer
        if kind == "pip":
            q = spark.createDataFrame(pd.DataFrame({
                "url": [f"q{j}" for j in range(PIP_POINTS)],
                "lon": p["lon"], "lat": p["lat"]}), "url string, lon double, lat double")
            with tr.span("sjoin.join"):
                rows = sjoin.spatial_join(q, self.polys, zoom=inputs.JOIN_ZOOM) \
                    .select("url", "poly_id").collect()
            return sorted((int(r[0][1:]), int(r[1])) for r in rows)
        if kind == "knn":
            q = spark.createDataFrame(pd.DataFrame({
                "qid": np.arange(KNN_QUERIES, dtype=np.int64),
                "qx": p["qx"], "qy": p["qy"]}), "qid long, qx double, qy double")
            with tr.span("knn.knn_ring"):
                rows = knn.knn_ring(q, self.targets, KNN_K, cell_size=KNN_CELL) \
                    .select("qid", "tid", "rank").collect()
            out = [[None] * KNN_K for _ in range(KNN_QUERIES)]
            for qid, tid, rank in rows:
                out[qid][rank - 1] = int(tid)
            return out
        if kind == "tile":
            with tr.span("tiles.read"):
                rows = self.pyr.filter(
                    (F.col("z") == p["z"]) & F.col("x").between(p["x0"], p["x1"])
                    & F.col("y").between(p["y0"], p["y1"])
                ).select("x", "y", "n_pages").collect()
            return sorted((int(x), int(y), int(n)) for x, y, n in rows)
        if kind == "curate":
            seg = spark.createDataFrame(p["segment"][["url", "text", "lang"]],
                                        "url string, text string, lang string")
            curated, counts = curate_chain(tr, seg)
            with tr.span("sampling.resample"):
                rows = curated.select("url").collect()
            return {"curated_urls": sorted(r[0] for r in rows), **counts}
        with tr.span("relevance.bm25_topk"):
            rows = relevance.bm25_topk(self.docs, self.em._BM25_TERMS, 10).collect()
        return [(int(d), float(s), int(r)) for d, s, r in rows]

    def request(self, i: int, kind: str | None = None) -> dict:
        kind, p = self.params(i, kind)
        rec = {"i": i, "kind": kind, "params": p, "error": None, "answer": None}
        tr = self.b.tracer
        t, c = time.perf_counter(), harness.cpu_seconds()
        try:
            with tr.span(f"serve.{kind}", root=True, request=i) as sp:
                rec["answer"] = self.call(kind, p)
            rec["root"] = sp
        except Exception as exc:  # a failed request counts, the loop goes on
            rec["error"] = f"{type(exc).__name__}: {exc}"
        rec["start"], rec["end"] = t, time.perf_counter()
        rec["cpu_s"] = harness.cpu_seconds() - c
        rec["traced"] = tr.on
        if rec["traced"] and "root" in rec:
            tr.collect_engine([rec["root"], *tr.children(rec["root"]["id"])])
        return rec

    def expected(self, kind: str, p: dict):
        if kind == "pip":
            return sorted(inputs.rect_hits(p["lon"], p["lat"]))
        if kind == "knn":
            return inputs.knn_brute(p["qx"], p["qy"], self.lon, self.lat,
                                    self.tid, KNN_K)
        if kind == "tile":
            return inputs.tiles_in(self.tx, self.ty, **p)
        if kind == "curate":
            return inputs.curate_expected(p["segment"])
        return self.bm25_expected

    def check(self, rec: dict) -> list[str]:
        if rec["error"]:
            return [rec["error"]]
        want = self.expected(rec["kind"], rec["params"])
        if rec["kind"] == "curate":
            return [f"curate request {rec['i']}: {k} differs"
                    for k, v in rec["answer"].items() if v != want[k]]
        if rec["answer"] != want:
            return [f"{rec['kind']} request {rec['i']}: answer differs "
                    f"({len(rec['answer'])} vs {len(want)} rows)"]
        return []

    def window(self, min_blocks: int = MIN_BLOCKS) -> list[dict]:
        """Whole blocks of requests (each type once) until the window
        closes, at least min_blocks, so every run measures the same mix.
        In a traced run whole blocks alternate traced and untraced."""
        records: list[dict] = []
        deadline = time.perf_counter() + self.b.seconds
        block = 0
        while block < min_blocks or time.perf_counter() < deadline:
            with self.b.tracer.tracing(block % 2 == 1):
                for j in range(len(KINDS)):
                    records.append(self.request(block * len(KINDS) + j))
            block += 1
        return records


def run(b: harness.Bench, n_pages: int = N_PAGES,
        warmup: int = WARMUP_ROUNDS, min_blocks: int = MIN_BLOCKS) -> dict:
    w = Serve(b, n_pages, warmup)
    records = w.window(min_blocks)
    failures = [w.check(r) for r in records]
    plain = [r for r in records if not r["traced"]]

    def wall(kind, traced=False):
        return [r["end"] - r["start"] for r in records
                if r["kind"] == kind and r["traced"] == traced]

    kind_p50 = {k: harness.median(wall(k)) for k in KINDS}
    kind_cpu = {k: harness.median(r["cpu_s"] for r in plain if r["kind"] == k)
                for k in KINDS}
    # requests per CPU second of a mix of one request of each type, from
    # each type's median, so one slow request does not move it
    result = {"items_per_cpu_s": len(KINDS) / sum(kind_cpu.values()),
              "items_per_s": len(plain) / sum(r["end"] - r["start"] for r in plain),
              # geometric mean of the per-type medians, so that a change
              # to any one request type moves it
              "p50_ms": 1000.0 * statistics.geometric_mean(kind_p50.values()),
              "attempted": len(records),
              "failed": sum(1 for f in failures if f),
              "errors": [e for f in failures for e in f][:5],
              "samples": len(plain)}
    result["latency"] = {
        **{f"{k}_p50_ms": 1000.0 * v for k, v in kind_p50.items()},
        "requests": [[r["kind"], round(1000.0 * (r["end"] - r["start"])),
                      round(1000.0 * r["cpu_s"])]
                     for r in sorted(records, key=lambda r: r["start"])]}
    ratios = [harness.median(wall(k, True)) / kind_p50[k]
              for k in KINDS if wall(k, True) and wall(k)]
    result["overhead"] = harness.median(ratios) - 1.0 if ratios else 0.0
    if b.traced:
        traced = [r for r in records if r["traced"] and "root" in r]
        knn_jobs = [sum(sp.get("engine", {}).get("jobs", 0)
                        for sp in b.tracer.children(r["root"]["id"])
                        if sp["name"] == "knn.knn_ring")
                    for r in traced if r["kind"] == "knn"]
        cur = [r for r in traced if r["kind"] == "curate"]
        layers = {f"serve.{k}_ms": (1000.0 * v, "ms") for k, v in kind_p50.items()}
        layers["knn.jobs_per_request"] = (harness.median(knn_jobs), "count")
        layers.update(harness.layer_seconds(
            b.tracer, [r["root"]["id"] for r in cur], CURATE_SPANS))
        layers["dedup.dups_removed"] = (harness.median(
            r["answer"]["kept"] - r["answer"]["distinct_texts"] for r in cur), "count")
        result["layers"] = layers
        result["roots"] = [r["root"]["id"] for r in traced]
    return result
