"""The engine's two batch jobs, each defined once.

``flagship``: pages -> geotag -> z12 tile_x/tile_y -> exact spatial join
(z7 polygon cover) -> ``joined/`` sink, and pages -> geotag -> z12
tile_x/tile_y -> z0..z12 tile pyramid -> ``pyramid/`` sink, with per-partition
lineage rows appended to ``_metrics/`` (metrics.py).

``curate``: quality gate -> exact dedup -> MinHash signature columns on
each row -> temperature resample by language.

Every caller uses these zooms, so they are constants, not options.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, functions as F

from .. import metrics
from ..operators import dedup, sampling, sjoin, textops, tiles

TILE_ZOOM = 12
JOIN_ZOOM = 7


def geotag_tiles(pages: DataFrame, zoom: int) -> DataFrame:
    """Pages -> (lon, lat) from the trailing ``@lat,lon`` geotag (the
    pages-table contract, so ``geocode(fast=True)``) -> tile_x/tile_y at
    ``zoom``."""
    return sjoin.with_tile(sjoin.geocode(pages, fast=True), zoom=zoom)


def _observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row count that the action writing it also collects."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def flagship(pages: DataFrame, polys: sjoin.PolygonSet, out_dir: str) -> dict:
    """Run the flagship job over ``pages`` (url, text, ...) into ``out_dir``;
    returns ``{"join_rows", "tiles"}``, the rows each sink write wrote.

    Each branch makes one column-pruned scan of ``pages`` and is
    materialized only by its sink write: no cache, no re-read to count.
    The job is bound by memory bandwidth (BENCH/BASELINE.md): building a
    cache of the string rows cost 3x the extraction it would save.
    The ``_metrics`` rows are the joined sink's per-partition rows and
    the source's per-partition page count."""
    mpath = os.path.join(out_dir, "_metrics")
    jpath = os.path.join(out_dir, "joined")

    pts = geotag_tiles(pages.select("url", "text"), TILE_ZOOM) \
        .select("url", "lon", "lat", "tile_x", "tile_y")
    joined, join_obs = _observed(
        sjoin.spatial_join(pts, polys, zoom=JOIN_ZOOM, how="inner"))
    joined.write.mode("overwrite").parquet(jpath)
    metrics.record(pages.sparkSession.read.parquet(jpath), "spatial_join", mpath)

    geo = geotag_tiles(pages.select("text"), TILE_ZOOM).select("tile_x", "tile_y")
    pyr, pyr_obs = _observed(tiles.tile_pyramid(geo, max_zoom=TILE_ZOOM, min_zoom=0))
    tiles.write_pyramid(pyr, os.path.join(out_dir, "pyramid"))
    metrics.record(pages.select(F.lit(1).alias("one")), "geocode_cell", mpath)
    return {"join_rows": join_obs.get["rows"], "tiles": pyr_obs.get["rows"]}


def curate(pages: DataFrame) -> DataFrame:
    """Curated pages: (url, text, lang) rows passing the quality gate
    (>= 3 tokens, alphanumeric ratio > 0.3), one per distinct text (min
    url), with their 8-hash MinHash signature columns mh_0..mh_7 over
    3-token shingles (dedup.with_minhash: no shuffle, no join), resampled
    by lang at temperature alpha 0.5 (the largest lang keeps half its
    rows; sampling.temperature_resample)."""
    # the scratch quality columns are dropped before anything shuffles
    kept = (textops.quality_score(pages.select("url", "text", "lang"))
            .filter((F.col("n_tokens") >= 3) & (F.col("alpha_ratio") > 0.3))
            .select("url", "text", "lang"))
    uniq = dedup.exact_dedup(kept, "url", "text")
    return sampling.temperature_resample(dedup.with_minhash(uniq, "text", 8, 3),
                                         "lang", "url", alpha=0.5, frac=0.5)
