"""Seeded benchmark inputs and the independent recomputations that check
the engine's outputs.

Inputs are built on the driver with the pages generator the engine itself
uses (`pages.synth.synth_pages_pdf`, the per-batch body of `pages_df`), so
the same seed always yields byte-identical parquet, and the lat/lon each
page carries is known here without asking Spark. The checks recompute the
expected answers with NumPy / pandas / duckdb only.
"""

from __future__ import annotations

import hashlib
import math
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from lib_gdal_spark.geo import mercator
from lib_gdal_spark.pages.synth import synth_pages_pdf

MAX_ZOOM = 12
JOIN_ZOOM = 7
# synth_pages_pdf mixes its seed as seed * 0x5DEECE66D in a signed 64-bit
# integer, so seeds are folded below 2^28 first (any int, of any sign or
# size, is a valid --seed)
SEED_MOD = 1 << 28


def pages(n: int, seed: int, start: int = 0) -> pd.DataFrame:
    """n pages (url, warc_ts, html, text, lang) for row ids start..start+n."""
    return synth_pages_pdf(np.arange(start, start + n, dtype=np.int64),
                           seed % SEED_MOD)


def write_parquet(pdf: pd.DataFrame, path: str, files: int) -> None:
    """Write pdf as `files` parquet files (Spark reads one split each)."""
    os.makedirs(path, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), files)):
        tbl = pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False)
        pq.write_table(tbl, os.path.join(path, f"part-{i:05d}.parquet"),
                       coerce_timestamps="us")


def geotags(texts) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) parsed from the trailing ``@lat,lon`` token of each text."""
    tags = [t.rsplit("@", 1)[1].split(",") for t in texts]
    lat = np.array([float(a) for a, _ in tags])
    lon = np.array([float(b) for _, b in tags])
    return lon, lat


def with_duplicates(pdf: pd.DataFrame, frac: float, seed: int) -> pd.DataFrame:
    """Append round(frac * n) exact copies of seeded rows' text (and lang)
    under fresh urls, so exact dedup has real work to do."""
    rng = np.random.default_rng(seed)
    n_dup = int(round(frac * len(pdf)))
    src = pdf.iloc[rng.integers(0, len(pdf), n_dup)].copy()
    src["url"] = [f"https://mirror{k % 97}.example.org/d/{k}" for k in range(n_dup)]
    return pd.concat([pdf, src], ignore_index=True)


# ------------------------------------------------------------- spatial oracles

def rects() -> list[tuple[int, float, float, float, float]]:
    """The polygon set the workloads join against (the driver contract's
    axis-aligned rectangles)."""
    import __spark_entry__ as em

    return list(em._RECTS)


def rect_hits(lon: np.ndarray, lat: np.ndarray) -> list[tuple[int, int]]:
    """(point index, poly id) for every point inside a rectangle. Ray-cast
    containment on an axis-aligned rectangle is half-open:
    [xmin, xmax) x [ymin, ymax)."""
    out = []
    for pid, x0, y0, x1, y1 in rects():
        idx = np.nonzero((lon >= x0) & (lon < x1) & (lat >= y0) & (lat < y1))[0]
        out += [(int(i), pid) for i in idx]
    return out


def tile_keys(lon: np.ndarray, lat: np.ndarray,
              max_zoom: int = MAX_ZOOM) -> tuple[np.ndarray, np.ndarray]:
    """Base (x, y) tiles of every point, from geo.mercator's NumPy tile
    math; the tile at zoom z is (x >> (max_zoom - z), y >> (max_zoom - z)),
    gdal2tiles' child-shift rule."""
    return mercator.lonlat_to_tile_np(lon, lat, max_zoom)


def tile_counts(tx: np.ndarray, ty: np.ndarray,
                max_zoom: int = MAX_ZOOM) -> dict[int, int]:
    """zoom -> number of distinct non-empty tiles."""
    out = {}
    for z in range(max_zoom, -1, -1):
        s = max_zoom - z
        out[z] = len(np.unique(((tx >> s) << np.int64(z)) | (ty >> s)))
    return out


def tiles_in(tx: np.ndarray, ty: np.ndarray, z: int, x0: int, x1: int,
             y0: int, y1: int, max_zoom: int = MAX_ZOOM) -> list[tuple[int, int, int]]:
    """Sorted (x, y, n_pages) of the non-empty zoom-z tiles in a bbox."""
    s = max_zoom - z
    x, y = tx >> s, ty >> s
    m = (x >= x0) & (x <= x1) & (y >= y0) & (y <= y1)
    keys, counts = np.unique(np.stack([x[m], y[m]], axis=1), axis=0,
                             return_counts=True)
    return [(int(a), int(b), int(c)) for (a, b), c in zip(keys, counts)]


def knn_brute(qx, qy, tx, ty, tid, k: int) -> list[list[int]]:
    """k nearest target ids per query, ordered by (distance, id) with the
    engine's distance expression sqrt(dx*dx + dy*dy)."""
    out = []
    for x, y in zip(qx, qy):
        d = np.sqrt((x - tx) * (x - tx) + (y - ty) * (y - ty))
        order = np.lexsort((tid, d))[:k]
        out.append([int(t) for t in tid[order]])
    return out


# -------------------------------------------------------------- text oracles

_TOK = re.compile(r"[a-z0-9]+")
_NON_ALNUM = re.compile(r"[^a-zA-Z0-9]")


def unit_hash(key: str, seed: str = "temp|") -> float:
    """sampling._unit_hash: first 13 hex digits of md5(seed || key) / 2^52."""
    return int(hashlib.md5((seed + key).encode()).hexdigest()[:13], 16) / 2.0 ** 52


def curate_expected(pdf: pd.DataFrame) -> dict:
    """What the curation chain must produce, recomputed in pandas: quality
    gate (>= 3 tokens, alnum ratio > 0.3) -> one row per distinct text (min
    url) -> one signature row per doc with a shingle -> temperature resample
    by lang (alpha 0.5, frac 0.5). Row counts plus the curated urls."""
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
    curated = sorted(u for u, g in zip(sig["url"], sig["lang"])
                     if unit_hash(u) < rate[g])
    return {"kept": len(kept), "distinct_texts": len(uniq),
            "signature_rows": len(sig), "curated_rows": len(curated),
            "curated_urls": curated}
