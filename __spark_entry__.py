"""Driver contract: entry() smoke query, queries() per operator, oracle_sql().

Every implemented operator from SURVEY.md §2 (plus the training-data-pipeline
ops) gets a `queries()` entry running the engine's real machinery over the
driver-provided parquet tables, and — where ANSI-SQL-expressible — an
`oracle_sql()` duckdb twin producing identical column names, types and
values. Geo inputs are derived DETERMINISTICALLY from `documents`
(lat/lon from integer arithmetic on doc_id) so both engines see identical
doubles; money sums go through DECIMAL so they are order-independent and
engine-exact; hex hashes use md5 (identical in Spark/duckdb/python).
"""

from __future__ import annotations

import sys
import os
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from lib_gdal_spark.geo import mercator
from lib_gdal_spark.operators import (
    contour, dedup, dem, focal, gdaldem_compat, graph, grid, interp, knn,
    multimodal, mdim, ogrsql, overlay as ovl, pct, polygonize, proximity,
    raster, s2index, similarity, sjoin, textops, tiles, viewshed as vshed,
    warp,
)
from lib_gdal_spark.geo import s2 as s2geo
from lib_gdal_spark.streaming import events as ev

# ----------------------------------------------------------------- shared

# derived geo view over documents: identical integer->double math in both
# engines (lat in [-85, 85), lon in [-180, 180))
_PAGES_CTE = """
pages AS (
  SELECT doc_id, text, lang, n_chars,
         (doc_id * 9973 % 170000) / 1000.0 - 85.0 AS lat,
         (doc_id * 7919 % 360000) / 1000.0 - 180.0 AS lon
  FROM documents
)
"""

# the four rectangles + one triangle used by the PIP queries. Ray-cast
# semantics on an axis-aligned rect are half-open: [xmin,xmax) x [ymin,ymax)
_RECTS = [
    (1, -10.0, -10.0, 20.0, 20.0),
    (2, 30.0, 0.0, 60.0, 30.0),
    (3, -80.0, 30.0, -40.0, 60.0),
    (4, 100.0, -50.0, 160.0, 10.0),
]
_TRI = [(0.15, 0.13), (60.07, 0.19), (29.83, 50.11)]  # CCW


def _rect_rings(x0, y0, x1, y1):
    return [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])]


def _rect_polyset():
    return sjoin.PolygonSet([(pid, _rect_rings(x0, y0, x1, y1))
                             for pid, x0, y0, x1, y1 in _RECTS])


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tbl(spark, sf_dir, "documents")
    return d.withColumn(
        "lat", (F.col("doc_id") * 9973 % 170000) / 1000.0 - 85.0
    ).withColumn("lon", (F.col("doc_id") * 7919 % 360000) / 1000.0 - 180.0)


# Mercator constants injected via repr() so duckdb parses the EXACT doubles
# the engine computes (2*pi*6378137/256 = 156543.03392804097 — the rounded
# literal 156543.03392804062 floating around in gdal2tiles docs is a
# DIFFERENT double and flips tiles for points exactly on tile edges).
_OS = repr(mercator.ORIGIN_SHIFT)          # 20037508.342789244
_IR = repr(mercator.INITIAL_RESOLUTION)    # 156543.03392804097
_PI360 = repr(__import__("math").pi / 360.0)
_PI180 = repr(__import__("math").pi / 180.0)
_PIH = repr(__import__("math").pi / 2.0)
_DPR = repr(180.0 / __import__("math").pi)


def _dd_tile_x(lon: str, z: int) -> str:
    return (
        f"CAST(greatest(0, least(ceil((({lon}) * ({_OS}/180.0) + {_OS})"
        f" / ({_IR}/pow(2.0,{z})) / 256.0) - 1, pow(2.0,{z}) - 1)) AS BIGINT)"
    )


def _dd_tile_y(lat: str, z: int) -> str:
    tms = (
        f"greatest(0, least(ceil(((ln(tan((90.0+({lat}))*{_PI360}))/({_PI180})"
        f"*({_OS}/180.0)) + {_OS})"
        f" / ({_IR}/pow(2.0,{z})) / 256.0) - 1, pow(2.0,{z}) - 1))"
    )
    return f"CAST(pow(2.0,{z}) - 1 - {tms} AS BIGINT)"


_STOPWORDS_ALL = sorted({w for ws in textops.STOPWORDS.values() for w in ws})

_SHINGLE_CTE = """
toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
sh0 AS (SELECT doc_id,
        unnest(list_transform(generate_series(1, greatest(len(t) - 2, 1)),
                              i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
        FROM toks),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE length(shingle) > 0)
"""


# ---------------------------------------------------------------- queries

def _q_tile_assign(spark, sf_dir):
    p = sjoin.with_tile(_pages(spark, sf_dir), zoom=8)
    return p.select("doc_id", F.col("tile_x").alias("x"), F.col("tile_y").alias("y"))


def _q_tile_pyramid(spark, sf_dir):
    p = sjoin.with_tile(_pages(spark, sf_dir), zoom=8)
    return tiles.tile_pyramid(p, max_zoom=8, min_zoom=0).select(
        F.col("z").cast("int").alias("z"), "x", "y", "n_pages"
    )


def _q_tile_render(spark, sf_dir):
    # gdal2tiles' actual PNG product with the codec IN the loop
    # (tiles.render_checksums): render 256x256 grayscale PNGs at z=2
    # from z=10 subtile counts, decode each tile back engine-side and
    # emit its GDALChecksumImage — the oracle computes the same checksum
    # relationally from the counts, so a green hash row certifies
    # encode_png -> decode_png -> checksum end-to-end, distributed.
    p = sjoin.with_tile(_pages(spark, sf_dir), zoom=10)
    base = tiles.base_tiles(p, zoom=10)
    return tiles.render_checksums(base, z=2).select(
        "x", "y", "checksum", "nnz")


def _q_pip_rect_join(spark, sf_dir):
    p = sjoin.with_tile(_pages(spark, sf_dir), zoom=6)
    j = sjoin.spatial_join(p, _rect_polyset(), zoom=6, how="inner")
    return j.select("doc_id", "poly_id")


def _q_pip_triangle(spark, sf_dir):
    p = sjoin.with_tile(_pages(spark, sf_dir), zoom=6)
    tri = sjoin.PolygonSet([(1, [np.array(_TRI + [_TRI[0]])])])
    return sjoin.spatial_join(p, tri, zoom=6, how="inner").select("doc_id")


def _knn_inputs(spark, sf_dir):
    q = _tbl(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("qid"),
        ((F.col("s_suppkey") * 7919 % 2000) / 10.0).alias("qx"),
        ((F.col("s_suppkey") * 104729 % 2000) / 10.0).alias("qy"),
    )
    t = _tbl(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("tid"),
        ((F.col("p_partkey") * 9973 % 2000) / 10.0).alias("tx"),
        ((F.col("p_partkey") * 6151 % 2000) / 10.0).alias("ty"),
    )
    return q, t


def _q_knn_ring(spark, sf_dir):
    q, t = _knn_inputs(spark, sf_dir)
    out = knn.knn_ring(q, t, k=3, cell_size=8.0)
    return out.select("qid", "tid", "dist", F.col("rank").cast("long").alias("rank"))


def _s2_latlng_inputs(spark, sf_dir):
    """Spherical kNN inputs: supplier queries vs part targets, lat/lng
    derived from the keys with the same integer->double math in both
    engines (trig downstream is bit-exact numpy==duckdb libm,
    pinned by tests/test_s2.py::test_trig_bit_exact_vs_duckdb)."""
    q = _tbl(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("qid"),
        ((F.col("s_suppkey") * 9973 % 170000) / 1000.0 - 85.0).alias("qlat"),
        ((F.col("s_suppkey") * 104729 % 360000) / 1000.0 - 180.0)
        .alias("qlng"),
    )
    t = _tbl(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("tid"),
        ((F.col("p_partkey") * 6151 % 170000) / 1000.0 - 85.0).alias("tlat"),
        ((F.col("p_partkey") * 7919 % 360000) / 1000.0 - 180.0)
        .alias("tlng"),
    )
    return q, t


def _q_s2_cell_assign(spark, sf_dir):
    """Geocode pages to discrete S2 cells (level 12 + level-6 parent +
    canonical hex token) — the spherical twin of tile_assign."""
    p = _pages(spark, sf_dir).select(
        "doc_id", "lat", F.col("lon").alias("lng"))
    out = s2index.s2_encode(p, level=12, parent_level=6, with_token=True)
    return out.select("doc_id", "s2_cell", "s2_parent", "s2_token")


def _q_s2_knn_sphere(spark, sf_dir):
    """Exact spherical kNN by S2 ring expansion with level coarsening
    and chord-space certification (operators/s2index.py)."""
    q, t = _s2_latlng_inputs(spark, sf_dir)
    out = s2index.s2_knn(q, t, k=3, level=8)
    return out.select("qid", "tid", "dist",
                      F.col("rank").cast("long").alias("rank"))


def _q_s2_cap_join(spark, sf_dir):
    """Spherical range join: pages within chord 0.25 of 25 nation-
    derived cap centers — cell-cover equi-join + exact chord test
    (operators/s2index.py), the spherical twin of pip_rect_join."""
    caps = _tbl(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cap_id"),
        ((F.col("n_nationkey") * 9973 % 170000) / 1000.0 - 85.0)
        .alias("clat"),
        ((F.col("n_nationkey") * 104729 % 360000) / 1000.0 - 180.0)
        .alias("clng"),
    )
    p = _pages(spark, sf_dir).select(
        F.col("doc_id").alias("tid"), F.col("lat").alias("tlat"),
        F.col("lon").alias("tlng"))
    out = s2index.s2_cap_join(p, caps, radius=0.25, level=6)
    return out.select("cap_id", F.col("tid").alias("doc_id"), "dist")


def _ntv2_toy_grid():
    """Deterministic NTv2 sub-grid: 11x9 nodes covering lat 10..50 /
    lon -60..30, offsets k/64 arc-seconds (exact in float32 AND in a
    decimal SQL literal, so the oracle injection is bit-exact)."""
    W, H = 11, 9
    x = np.arange(W)
    y = np.arange(H)[:, None]
    bands = np.zeros((4, H, W), np.float32)
    bands[0] = ((x * 7 + y * 13) % 33 - 16) / 64.0
    bands[1] = ((x * 11 + y * 5) % 29 - 14) / 64.0
    return {
        "name": "TOY", "parent": "NONE", "created": "", "updated": "",
        "s_lat": 10 * 3600.0, "n_lat": 50 * 3600.0,
        "w_long": -60 * 3600.0, "e_long": 30 * 3600.0,
        "lat_inc": 18000.0, "long_inc": 32400.0,
        "width": W, "height": H, "bands": bands,
    }


def _q_ntv2_shift(spark, sf_dir):
    """NTv2 datum-shift grid applied to pages, with the .gsb codec IN
    the loop (write -> read -> bilinear shift; sources/ntv2.py after
    frmts/raw/ntv2dataset.cpp). Points outside the grid pass through
    unshifted — both populations are non-degenerate at every sf."""
    import tempfile

    from lib_gdal_spark.sources import ntv2 as nt
    from lib_gdal_spark.session import ship_package

    path = nt.write_ntv2(
        tempfile.mktemp(prefix="ntv2_", suffix=".gsb"), [_ntv2_toy_grid()])
    grid = nt.read_ntv2_grids(path)[0]
    ship_package(spark)
    p = _pages(spark, sf_dir).select("doc_id", "lat", "lon")

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            lon2, lat2, ok = nt.ntv2_shift_np(
                pdf["lon"].to_numpy(np.float64),
                pdf["lat"].to_numpy(np.float64), grid)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"], "lon2": lon2, "lat2": lat2,
                "shifted": ok.astype(np.int64)})

    return p.mapInPandas(
        run, schema="doc_id long, lon2 double, lat2 double, shifted long")


def _q_gtx_roundtrip(spark, sf_dir):
    """GTX vertical-shift sink+source with the big-endian bottom-up
    float32 codec IN the loop (sources/gtx.py after
    frmts/raw/gtxdataset.cpp). Cell values are eighths (exact in
    float32); absent (bx, by) combinations become nodata on write and
    stay absent after the read."""
    import tempfile

    from lib_gdal_spark.sources import gtx as gx

    W, H = 31, 17
    cells = (_tbl(spark, sf_dir, "documents")
             .groupBy((F.col("doc_id") % W).alias("bx"),
                      F.expr(f"(doc_id div {W}) % {H}").alias("by"))
             .agg(((F.min("n_chars") % 97 - 48) / 8.0).alias("value"))
             .collect())
    vals = np.full((H, W), np.nan)
    for r in cells:
        vals[H - 1 - r["by"], r["bx"]] = r["value"]
    path = gx.write_gtx(tempfile.mktemp(prefix="gtx_", suffix=".gtx"),
                        vals, (0.0, 0.25, 0.0, H * 0.25, 0.0, -0.25))
    back, _meta = gx.read_gtx(spark, path)
    return (back.groupBy((F.col("bx") % 5).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("bx").alias("bx_sum"),
                 F.sum("by").alias("by_sum"),
                 F.sum((F.col("value") * 8.0).cast("long")).alias("v8_sum")))


def _q_byn_roundtrip(spark, sf_dir):
    """BYN geoid sink+source with the 80-byte LE header + Int16 codec
    IN the loop (sources/byn.py after frmts/raw/byndataset.cpp),
    x1000-scaled boundaries exercised. Values straddle zero; absent
    cells become the 32767 nodata and stay absent after the read."""
    import tempfile

    from lib_gdal_spark.sources import byn as bn

    W, H = 29, 13
    cells = (_tbl(spark, sf_dir, "documents")
             .groupBy((F.col("doc_id") % W).alias("bx"),
                      F.expr(f"(doc_id div {W}) % {H}").alias("by"))
             .agg((F.min("n_chars") % 1201 - 600).alias("value"))
             .collect())
    vals = np.full((H, W), 32767, np.int64)
    for r in cells:
        vals[H - 1 - r["by"], r["bx"]] = r["value"]
    # scale=1: header units are thousandths of the true arc-seconds
    path = bn.write_byn(
        tempfile.mktemp(prefix="byn_", suffix=".byn"), vals,
        south=36, north=36 + 3 * (H - 1), west=-72,
        east=-72 + 3 * (W - 1), dlat=3, dlon=3, sizeof=2, scale=1)
    back, _meta = bn.read_byn(spark, path)
    return (back.groupBy((F.col("bx") % 4).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("bx").alias("bx_sum"),
                 F.sum("by").alias("by_sum"),
                 F.sum(F.col("value").cast("long")).alias("v_sum")))


def _grid_roundtrip_cells(spark, sf_dir, W, H, mod, half):
    """Shared synth for the small-grid roundtrip keys: eighth-step
    values (exact in float32 AND in any x1000 integer scaling) on a
    W x H grid keyed from documents; -> north-up ndarray with NaN
    holes."""
    cells = (_tbl(spark, sf_dir, "documents")
             .groupBy((F.col("doc_id") % W).alias("bx"),
                      F.expr(f"(doc_id div {W}) % {H}").alias("by"))
             .agg(((F.min("n_chars") % mod - half) / 8.0).alias("value"))
             .collect())
    vals = np.full((H, W), np.nan)
    for r in cells:
        vals[H - 1 - r["by"], r["bx"]] = r["value"]
    return vals


def _q_rraster_roundtrip(spark, sf_dir):
    """R raster sink+source with the .grd/.gri codec IN the loop
    (sources/gridpack.py after frmts/raw/rrasterdataset.cpp). Values
    are eighths (exact in FLT4S float32); absent cells become the
    nodatavalue on write and stay absent after the read."""
    import tempfile

    from lib_gdal_spark.sources import gridpack as gp

    W, H = 23, 11
    vals = _grid_roundtrip_cells(spark, sf_dir, W, H, 193, 96)
    grd, body = gp.encode_rraster(
        np.where(np.isnan(vals), -9999.0, vals),
        (0.0, 1.0, 0.0, float(H), 0.0, -1.0),
        nodata=-9999.0, datatype="FLT4S")
    path = tempfile.mktemp(prefix="rr_", suffix=".grd")
    open(path, "w").write(grd)
    open(path[:-4] + ".gri", "wb").write(body)
    back, _meta = gp.read_rraster(spark, path)
    return (back.groupBy((F.col("bx") % 5).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("bx").alias("bx_sum"),
                 F.sum("by").alias("by_sum"),
                 F.sum((F.col("value") * 8.0).cast("long")).alias("v8_sum")))


def _q_saga_roundtrip(spark, sf_dir):
    """SAGA sink+source with the .sgrd/.sdat bottom-up float32 codec IN
    the loop (sources/gridpack.py after frmts/saga/sagadataset.cpp)."""
    import tempfile

    from lib_gdal_spark.sources import gridpack as gp

    W, H = 19, 14
    vals = _grid_roundtrip_cells(spark, sf_dir, W, H, 157, 78)
    path = tempfile.mktemp(prefix="saga_", suffix=".sdat")
    sgrd, body = gp.encode_saga(np.where(np.isnan(vals), -99999.0, vals),
                                (0.0, 2.0, 0.0, H * 2.0, 0.0, -2.0))
    open(path[:-5] + ".sgrd", "w").write(sgrd)
    open(path, "wb").write(body)
    back, _meta = gp.read_saga(spark, path)
    return (back.groupBy((F.col("bx") % 3).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("bx").alias("bx_sum"),
                 F.sum("by").alias("by_sum"),
                 F.sum((F.col("value") * 8.0).cast("long")).alias("v8_sum")))


def _q_rst_roundtrip(spark, sf_dir):
    """Idrisi RST sink+source with the .rst/.rdc Int16 codec IN the
    loop (sources/gridpack.py after frmts/idrisi/IdrisiDataset.cpp);
    integer values, 'flag value' nodata path exercised."""
    import tempfile

    from lib_gdal_spark.sources import gridpack as gp

    W, H = 27, 9
    cells = (_tbl(spark, sf_dir, "documents")
             .groupBy((F.col("doc_id") % W).alias("bx"),
                      F.expr(f"(doc_id div {W}) % {H}").alias("by"))
             .agg((F.min("n_chars") % 1999 - 999).alias("value")))
    path = tempfile.mktemp(prefix="rst_", suffix=".rst")
    gp.write_rst(cells, path, W, H, (0.0, 1.0, 0.0, float(H), 0.0, -1.0),
                 nodata=-9999.0, data_type="integer")
    back, _meta = gp.read_rst(spark, path)
    return (back.groupBy((F.col("bx") % 4).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("bx").alias("bx_sum"),
                 F.sum("by").alias("by_sum"),
                 F.sum(F.col("value").cast("long")).alias("v_sum")))


def _q_kmv_docs(spark, sf_dir):
    """K-minimum-values distinct sketch over the documents corpus
    (operators/sketch.py kmv_sketch): the 128 smallest md5 hashes of
    the text column. The duckdb twin is literally ORDER BY md5 LIMIT
    128 — the whole sketch hash-matches or the op is wrong."""
    from lib_gdal_spark.operators import sketch

    docs = _tbl(spark, sf_dir, "documents")
    return (sketch.kmv_sketch(docs, "text", k=128)
            .select(F.col("h").alias("hash")))


def _q_hll_docs(spark, sf_dir):
    """Deterministic md5 HyperLogLog registers over the documents
    corpus (operators/sketch.py): bucket = first 12 hash bits, rho =
    leading-zero run of the next 64 + 1, registers = 4096-group max.
    The duckdb twin recomputes the identical sketch from md5 — the
    hash can only match if every register agrees (the approximate-op
    determinism rule)."""
    from lib_gdal_spark.operators import sketch

    docs = _tbl(spark, sf_dir, "documents")
    regs = sketch.hll_registers(docs, "text", p=12)
    return (regs.groupBy((F.col("bucket") % 64).alias("grp"))
            .agg(F.count("*").alias("n"),
                 F.sum("rho").alias("rho_sum"),
                 F.max("rho").cast("long").alias("rho_max")))


def _q_zarr_roundtrip(spark, sf_dir):
    """Zarr v2 sink+source with the chunked store codec IN the loop
    (sources/zarrstore.py — .zarray JSON, zlib chunks, fill_value
    holes): eighth-step grid out through write_zarr_array (4 chunks),
    read back through the one-task-per-CHUNK read_zarr_cells face."""
    import tempfile

    from lib_gdal_spark.sources import zarrstore as zs

    W, H = 25, 17
    vals = _grid_roundtrip_cells(spark, sf_dir, W, H, 227, 113)
    path = tempfile.mkdtemp(prefix="zarr_rt_") + "/rt.zarr"
    zs.write_zarr_array(path, np.where(np.isnan(vals), -9999.0, vals),
                        chunks=(9, 13),
                        compressor={"id": "zlib", "level": 6},
                        fill_value=-9999.0)
    back, _meta = zs.read_zarr_cells(spark, path)
    return (back.groupBy((F.col("bx") % 7).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("bx").alias("bx_sum"),
                 F.sum("by").alias("by_sum"),
                 F.sum((F.col("value") * 8.0).cast("long")).alias("v8_sum")))


def _q_zmap_roundtrip(spark, sf_dir):
    """ZMap Plus sink+source with the column-major fixed-width ASCII
    codec IN the loop (sources/gridpack2.py after
    frmts/zmap/zmapdataset.cpp). Eighths print exactly at 7 decimals,
    so the hash can only match if the column-major ordering, the
    per-column EOL framing and the nodata sentinel all round-trip."""
    import tempfile

    from lib_gdal_spark.sources import gridpack2 as gp2

    W, H = 21, 13
    vals = _grid_roundtrip_cells(spark, sf_dir, W, H, 211, 105)
    path = tempfile.mktemp(prefix="zmap_", suffix=".dat")
    open(path, "w").write(
        gp2.encode_zmap(vals, (0.0, 1.0, 0.0, float(H), 0.0, -1.0)))
    back, _meta = gp2.read_zmap(spark, path)
    return (back.groupBy((F.col("bx") % 4).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("bx").alias("bx_sum"),
                 F.sum("by").alias("by_sum"),
                 F.sum((F.col("value") * 8.0).cast("long")).alias("v8_sum")))


def _q_hf2_roundtrip(spark, sf_dir):
    """HF2 sink+source with the tiled delta codec IN the loop
    (sources/hf2.py after frmts/hf2/hf2dataset.cpp), Int16 exact path,
    tile size 16 so the synthetic grid spans multiple tiles."""
    import tempfile

    from lib_gdal_spark.sources import hf2 as h2
    from lib_gdal_spark.sources.gridpack import _cells_to_array

    W, H = 37, 19
    cells = (_tbl(spark, sf_dir, "documents")
             .groupBy((F.col("doc_id") % W).alias("bx"),
                      F.expr(f"(doc_id div {W}) % {H}").alias("by"))
             .agg((F.min("n_chars") % 4001 - 2000).alias("value")))
    vals = _cells_to_array(cells, W, H, 0.0)
    path = tempfile.mktemp(prefix="hf2_", suffix=".hf2")
    open(path, "wb").write(
        h2.encode_hf2(vals, gt=(0.0, 1.0, 0.0, float(H), 0.0, -1.0),
                      tile_size=16, source_int16=True, compress=True))
    back, _meta = h2.read_hf2(spark, path)
    # absent cells were filled with 0 on write (HF2 has no nodata),
    # so the read-back grid is dense: fold every cell
    return (back.groupBy((F.col("bx") % 5).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("bx").alias("bx_sum"),
                 F.sum("by").alias("by_sum"),
                 F.sum(F.col("value").cast("long")).alias("v_sum")))


def _q_sigdem_roundtrip(spark, sf_dir):
    """SIGDEM sink+source with the big-endian scaled-Int32 bottom-up
    codec IN the loop (sources/gridpack.py after
    frmts/sigdem/sigdemdataset.cpp). Eighths are exact across the
    x1000 integer scaling (125-multiples), so the hash can only match
    if the scale, the row flip and the NO_DATA sentinel all round-trip
    exactly."""
    import tempfile

    from lib_gdal_spark.sources import gridpack as gp

    W, H = 33, 7
    vals = _grid_roundtrip_cells(spark, sf_dir, W, H, 241, 120)
    path = tempfile.mktemp(prefix="sigdem_", suffix=".sigdem")
    open(path, "wb").write(
        gp.encode_sigdem(vals, (0.0, 1.0, 0.0, float(H), 0.0, -1.0)))
    back, _meta = gp.read_sigdem(spark, path)
    return (back.groupBy((F.col("bx") % 6).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("bx").alias("bx_sum"),
                 F.sum("by").alias("by_sum"),
                 F.sum((F.col("value") * 8.0).cast("long")).alias("v8_sum")))


def _q_leveller_roundtrip(spark, sf_dir):
    """Leveller v7 sink+source with the tag-stream float32 codec IN
    the loop (sources/leveller.py after frmts/leveller/
    levellerdataset.cpp). Halves are exact in float32, so the *2
    recovery is an integer; absent cells write as 0 heights (the
    format has no nodata) and the count column pins the full grid."""
    import tempfile

    from lib_gdal_spark.sources import leveller as lv

    W, H = 27, 11
    cells = (_tbl(spark, sf_dir, "documents")
             .groupBy((F.col("doc_id") % W).alias("bx"),
                      F.expr(f"(doc_id div {W}) % {H}").alias("by"))
             .agg(((F.min("n_chars") % 1601 - 800) / 2.0).alias("value"))
             .collect())
    vals = np.zeros((H, W))
    for r in cells:
        vals[H - 1 - r["by"], r["bx"]] = r["value"]
    path = lv.write_leveller(
        tempfile.mktemp(prefix="lev_", suffix=".ter"), vals,
        (0.0, 30.0, 0.0, 0.0, 0.0, 30.0), elev_scale=2.0)
    back, _meta = lv.read_leveller(spark, path)
    return (back.groupBy((F.col("bx") % 6).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("bx").alias("bx_sum"),
                 F.sum("by").alias("by_sum"),
                 F.sum((F.col("value") * 2.0).cast("long")).alias("v2_sum")))


def _q_vicar_roundtrip(spark, sf_dir):
    """VICAR sink+source with the labeled-record codec IN the loop
    (sources/vicar.py after frmts/pds/vicardataset.cpp): HALF (int16)
    BSQ data behind a generated ASCII label with a PROPERTY group;
    read-side re-parse of LBLSIZE/RECSIZE/ORG drives the aggregate."""
    import tempfile

    from lib_gdal_spark.sources import vicar as vc

    W, H = 23, 19
    cells = (_tbl(spark, sf_dir, "documents")
             .groupBy((F.col("doc_id") % W).alias("bx"),
                      F.expr(f"(doc_id div {W}) % {H}").alias("by"))
             .agg((F.min("n_chars") % 2001 - 1000).alias("value"))
             .collect())
    vals = np.zeros((H, W))
    for r in cells:
        vals[H - 1 - r["by"], r["bx"]] = r["value"]
    path = vc.write_vicar(
        tempfile.mktemp(prefix="vicar_", suffix=".vic"), vals, "HALF",
        properties={"MAP": {"MAP_SCALE": 0.025, "TARGET_NAME": "MARS"}})
    back, meta = vc.read_vicar(spark, path)
    scale = float(meta["gt"][1])  # 25.0 from the MAP group re-parse
    return (back.groupBy((F.col("bx") % 7).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("bx").alias("bx_sum"),
                 F.sum("by").alias("by_sum"),
                 F.sum((F.col("value") * F.lit(scale) / 25.0).cast("long"))
                 .alias("v_sum")))


def _q_georss_roundtrip(spark, sf_dir):
    """GeoRSS sink+source with the RSS/georss:point XML codec IN the
    loop (sources/georss.py after ogr/ogrsf_frmts/georss). 311
    bucket-features carry integer coordinates (exact through the
    %.15g point serialization); read-side wkt strings are re-parsed
    with Catalyst regexes."""
    import tempfile

    from lib_gdal_spark.sources import georss as gr

    agg = (_tbl(spark, sf_dir, "documents")
           .groupBy((F.col("doc_id") % 311).alias("b"))
           .agg(F.count("*").alias("n"),
                (F.sum("doc_id") % 170000 - 85000).alias("lat_i"),
                (F.sum("n_chars") % 360000 - 180000).alias("lon_i"))
           .collect())
    feats = [{"fields": {"title": str(r["b"]),
                         "description": str(r["n"])},
              "wkt": f"POINT ({r['lon_i']} {r['lat_i']})"}
             for r in agg]
    path = gr.write_georss(
        tempfile.mktemp(prefix="georss_", suffix=".xml"), feats, "RSS")
    back = gr.read_georss(spark, path)
    pt = r"POINT \((-?\d+) (-?\d+)\)"
    return back.select(
        F.col("title").cast("long").alias("bucket"),
        F.col("description").cast("long").alias("n"),
        F.regexp_extract("wkt", pt, 1).cast("long").alias("lon_i"),
        F.regexp_extract("wkt", pt, 2).cast("long").alias("lat_i"))


def _q_rmf_roundtrip(spark, sf_dir):
    """RMF/Panorama MTW sink+source with the tiled Int32 codec IN the
    loop (sources/rmf.py after frmts/rmf/rmfdataset.cpp): a 300x73
    grid forces edge tiles at tile=64, so the tile table, last-tile
    clipping and offsets must all round-trip for the hash to match."""
    import tempfile

    from lib_gdal_spark.sources import rmf as rm

    W, H = 73, 41
    cells = (_tbl(spark, sf_dir, "documents")
             .groupBy((F.col("doc_id") % W).alias("bx"),
                      F.expr(f"(doc_id div {W}) % {H}").alias("by"))
             .agg((F.min("n_chars") * 977 % 2000003 - 1000000)
                  .alias("value"))
             .collect())
    vals = np.zeros((H, W), np.int32)
    for r in cells:
        vals[H - 1 - r["by"], r["bx"]] = r["value"]
    path = rm.write_rmf(
        tempfile.mktemp(prefix="rmf_", suffix=".mtw"), vals, mtw=True,
        gt=(440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0), tile=64)
    back, _meta = rm.read_rmf(spark, path)
    return (back.groupBy((F.col("bx") % 9).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("bx").alias("bx_sum"),
                 F.sum("by").alias("by_sum"),
                 F.sum(F.col("value").cast("long")).alias("v_sum")))


def _q_ilwis_roundtrip(spark, sf_dir):
    """ILWIS sink+source with the ini-ODF + raw .mp# codec IN the loop
    (sources/ilwis.py after frmts/ilwis/ilwisdataset.cpp): Int (i2)
    store, GeoRefCorners georef re-parsed on read."""
    import tempfile, os

    from lib_gdal_spark.sources import ilwis as il

    W, H = 37, 21
    cells = (_tbl(spark, sf_dir, "documents")
             .groupBy((F.col("doc_id") % W).alias("bx"),
                      F.expr(f"(doc_id div {W}) % {H}").alias("by"))
             .agg((F.min("n_chars") % 3001 - 1500).alias("value"))
             .collect())
    vals = np.zeros((H, W), np.int16)
    for r in cells:
        vals[H - 1 - r["by"], r["bx"]] = r["value"]
    d = tempfile.mkdtemp(prefix="ilwis_")
    path = il.write_ilwis(os.path.join(d, "grid.mpr"), vals, store="Int",
                          gt=(795480.0, 20.0, 0.0, 8090520.0, 0.0, -20.0))
    back, meta = il.read_ilwis(spark, path)
    px = float(meta["gt"][1])  # 20.0 from the .grf re-parse
    return (back.groupBy((F.col("bx") % 5).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("bx").alias("bx_sum"),
                 F.sum("by").alias("by_sum"),
                 F.sum((F.col("value") * F.lit(px) / 20.0).cast("long"))
                 .alias("v_sum")))


def _q_zonal_stats(spark, sf_dir):
    p = _pages(spark, sf_dir).select(
        F.floor(F.col("lon") / 30.0).cast("long").alias("zone"),
        F.col("n_chars").alias("value"),
    )
    out = raster.zonal_stats(p, zone_col="zone",
                             stats=("count", "sum", "mean", "min", "max"))
    return out.select(
        "zone", F.col("count").alias("n"), F.col("sum").cast("long").alias("total"),
        F.col("mean").alias("mean"), F.col("min").cast("long").alias("vmin"),
        F.col("max").cast("long").alias("vmax"),
    )


def _q_zonal_weighted(spark, sf_dir):
    # weighted zonal stats (zonal.cpp weighted_* variants): weight derived
    # deterministically from doc_id in both engines
    p = _pages(spark, sf_dir).select(
        F.floor(F.col("lon") / 30.0).cast("long").alias("zone"),
        F.col("n_chars").cast("double").alias("value"),
        ((F.col("doc_id") % 4) + 1).cast("double").alias("weight"),
    )
    out = raster.zonal_stats(p, zone_col="zone",
                             stats=("weighted_sum", "weighted_mean"))
    return out.select("zone", "weighted_sum",
                      F.round("weighted_mean", 9).alias("weighted_mean"))


def _q_zonal_mode(spark, sf_dir):
    # mode/minority per zone (alg/zonal.cpp stat names) — deterministic
    # tie-break to the smaller value in both engines
    p = _pages(spark, sf_dir).select(
        F.floor(F.col("lon") / 30.0).cast("long").alias("zone"),
        (F.col("n_chars") % 7).cast("long").alias("value"),
    )
    out = raster.zonal_stats(p, zone_col="zone", stats=("mode", "minority"))
    return out.select("zone", "mode", "minority")


def _q_events_sliding(spark, sf_dir):
    # sliding window (10 min window, 5 min slide): every event lands in 2
    # windows — the streaming-window shape as its batch twin
    e = _tbl(spark, sf_dir, "events")
    out = (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"),
                  "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros(F.col("w.start").cast("timestamp_ltz")).alias("w_us"),
                "event_type", "n")
    )
    return out


def _q_overview_avg(spark, sf_dir):
    p = sjoin.with_tile(_pages(spark, sf_dir), zoom=8)
    base = tiles.base_tiles(p, 8).select(
        F.col("x").alias("bx"), F.col("y").alias("by"),
        F.col("n_pages").cast("double").alias("value"),
    )
    return raster.overview(base, "average")


def _q_overview_gauss(spark, sf_dir):
    p = sjoin.with_tile(_pages(spark, sf_dir), zoom=8)
    base = tiles.base_tiles(p, 8).select(
        F.col("x").alias("bx"), F.col("y").alias("by"),
        F.col("n_pages").cast("double").alias("value"),
    )
    return raster.overview_gauss(base)


def _q_overview_cubic(spark, sf_dir):
    return raster.overview_cubic(_base_grid8(spark, sf_dir))


def _q_footprint(spark, sf_dir):
    # boundary cells of the dense doc grid with holes punched
    holes = _base_grid8(spark, sf_dir).filter(
        (F.col("bx") * 31 + F.col("by")) % 7 != 0
    )
    out = raster.footprint_cells(holes)
    return out.select("bx", "by")


def _q_rasterize(spark, sf_dir):
    polys = [(1, _rect_rings(0, 0, 6, 6)), (2, _rect_rings(4, 4, 10, 10))]
    return raster.rasterize(spark, polys, {1: 10.0, 2: 20.0}, cell_size=1.0)


def _q_histogram(spark, sf_dir):
    d = _tbl(spark, sf_dir, "documents")
    return (
        d.withColumn("bucket", F.least(F.floor(F.col("n_chars") / 50.0), F.lit(19)).cast("long"))
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    )


def _q_focal_mean(spark, sf_dir):
    p = sjoin.with_tile(_pages(spark, sf_dir), zoom=8)
    base = tiles.base_tiles(p, 8).select(
        F.col("x").alias("bx"), F.col("y").alias("by"),
        F.col("n_pages").cast("double").alias("value"),
    )
    return focal.focal(base, "mean", k=1)


def _neardup_emb(spark, sf_dir):
    """embeddings + exact duplicate rows for vec_id < 50 (id + 1000000) —
    deterministic in both engines; the synthetic vectors have no natural
    near-dups (max pairwise cos ~0.51), so dedup needs derived ones."""
    e = _tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return e.unionByName(dup)


def _q_ann_ivf(spark, sf_dir):
    # IVF coarse-quantizer ANN (rows-only check, like ann_lsh: recall<1 by
    # design; unit tests measure recall vs cosine_topk)
    e = _tbl(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), "embedding")
    out = similarity.ann_ivf(e, q, k=3, n_lists=8, nprobe=3)
    return out.select("qid", "vec_id", F.col("rank").cast("long").alias("rank"))


def _q_embed_neardup(spark, sf_dir):
    out = similarity.embedding_neardup(_neardup_emb(spark, sf_dir),
                                       threshold=0.999)
    return out.select("vec_id")


def _graph_edges(spark, sf_dir):
    """Bipartite nation<->region graph: nations 0..24, regions 100..104,
    w derived from keys — deterministic in both engines."""
    n = _tbl(spark, sf_dir, "nation")
    return n.select(
        F.col("n_nationkey").cast("long").alias("src"),
        (F.col("n_regionkey") + 100).cast("long").alias("dst"),
        ((F.col("n_nationkey") % 5) + 1).cast("double").alias("w"),
    )


def _kpath_edges(spark, sf_dir):
    """Bipartite star graph + a nation chain (i <-> i+1): multiple simple
    paths exist between any two nations, so K-shortest is non-trivial."""
    n = _tbl(spark, sf_dir, "nation")
    star = _graph_edges(spark, sf_dir)
    chain = n.filter(F.col("n_nationkey") < 24).select(
        F.col("n_nationkey").cast("long").alias("src"),
        (F.col("n_nationkey") + 1).cast("long").alias("dst"),
        ((F.col("n_nationkey") % 7) + 2).cast("double").alias("w"),
    )
    return star.unionByName(chain)


def _q_graph_kpaths(spark, sf_dir):
    # GNM K-shortest paths (gnmgraph.h:176): exhaustive simple-path
    # enumeration (prune=None) within 8 hops -> exact top-5; the oracle
    # is the same enumeration as a duckdb recursive CTE
    return graph.k_shortest_paths(_kpath_edges(spark, sf_dir),
                                  source=0, target=6, k=5, max_hops=8)


def _q_graph_sssp(spark, sf_dir):
    out = graph.sssp(_graph_edges(spark, sf_dir), source=0)
    return out.select("vertex", "dist")


# rpc_project synthesis constants: precomputed quotients (CLAUDE.md
# op-order rule) spreading doc_ids across 80% of the model's validity
# box; prime moduli (997/991/983) so lon/lat/z decorrelate and no value
# sits on a rounding knife edge
_RPC_T997 = 1.0 / 997.0
_RPC_T991 = 1.0 / 991.0
_RPC_T983 = 1.0 / 983.0
_RPC_LON_SPAN = 0.1096 * 1.6
_RPC_LAT_SPAN = 0.0900 * 1.6
_RPC_H_SPAN = 501.0 * 1.6


def _rpc_demo_model():
    from lib_gdal_spark.geo import rpc as rpcmod
    return rpcmod.RpcModel.from_metadata(rpcmod.RPC_VRT_DEMO)


def _q_rpc_project(spark, sf_dir):
    # Forward RPC camera projection (geo/rpc.py:pixel_line — the
    # reference's RPCTransformPoint, alg/gdal_rpc.cpp:440) over
    # synthetic in-domain (lon, lat, z): pure rational column math, so
    # the duckdb twin (same left-associated even/odd folds, constants
    # injected as %.17e::DOUBLE — see dl() and the CLAUDE.md duckdb
    # literal double-rounding trap) is bit-exact. The model is the reference's
    # own autotest fixture (rpc.vrt); its inverse replays the autotest
    # goldens in tests/test_rpc.py.
    from lib_gdal_spark.geo import rpc as rpcmod
    m = _rpc_demo_model()
    d = _tbl(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"))
    lon = (F.lit(m.long_off)
           + ((F.col("doc_id") % 997) * _RPC_T997 - 0.5) * _RPC_LON_SPAN)
    lat = (F.lit(m.lat_off)
           + ((F.col("doc_id") % 991) * _RPC_T991 - 0.5) * _RPC_LAT_SPAN)
    z = (F.lit(m.height_off)
         + ((F.col("doc_id") % 983) * _RPC_T983 - 0.5) * _RPC_H_SPAN)
    c = d.select("doc_id", lon.alias("lon"), lat.alias("lat"), z.alias("z"))
    p, l = rpcmod.pixel_line(m, F.col("lon"), F.col("lat"), F.col("z"))
    return c.select("doc_id", p.alias("pixel"), l.alias("line"))


# geoloc_forward synthesis: DYADIC node constants (2**-9 / 2**-10, i,j
# <= 32) so every geoloc-array node value is an exact double and the
# duckdb twin can recompute the quad corners bit-exactly in any op
# order; the point spread uses prime-denominator quotients (CLAUDE.md
# op-order rule) so the bilinear fractions never sit on a knife edge.
_GEOLOC_N = 33
_GEOLOC_C1 = 0.001953125       # 2**-9
_GEOLOC_C2 = 0.0009765625      # 2**-10
_GEOLOC_TX = 31.9 / 997.0
_GEOLOC_TY = 31.9 / 991.0


def _geoloc_demo():
    from lib_gdal_spark.geo import geoloc as glmod
    n = _GEOLOC_N
    jj, ii = np.meshgrid(np.arange(n, dtype=float),
                         np.arange(n, dtype=float), indexing="ij")
    lon = (-80.0 + ii * 0.5) + (ii * jj) * _GEOLOC_C1
    lat = (50.0 - jj * 0.5) + (ii * jj) * _GEOLOC_C2
    return glmod.GeolocArray(lon=lon, lat=lat)


def _q_geoloc_forward(spark, sf_dir):
    # Geolocation-array forward transform (geo/geoloc.py:forward_cells
    # — the main bilinear branch of the reference's PixelLineToXY,
    # alg/gdalgeoloc.cpp:444-457) over a smooth non-affine 33x33 grid:
    # each document becomes a (pixel, line) sample; the broadcast
    # cell-table join evaluates the bilinear in the reference's exact
    # op order, so the duckdb twin hashes bit-exactly. Zero Exchange on
    # the point side (pinned in tests/test_geoloc.py).
    from lib_gdal_spark.geo import geoloc as glmod
    gl = _geoloc_demo()
    d = _tbl(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"))
    pts = d.select(
        "doc_id",
        ((F.col("doc_id") % 997) * _GEOLOC_TX).alias("px"),
        ((F.col("doc_id") % 991) * _GEOLOC_TY).alias("py"))
    out = glmod.forward_cells(pts, glmod.cells_df(spark, gl), gl)
    return out.select("doc_id", "geo_x", "geo_y")


def _o_geoloc_forward() -> str:
    def dl(x):
        return f"{float(x):.17e}"
    c1, c2 = dl(_GEOLOC_C1), dl(_GEOLOC_C2)
    return f"""
WITH p AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         (CAST(doc_id AS BIGINT) % 997) * {dl(_GEOLOC_TX)} AS px,
         (CAST(doc_id AS BIGINT) % 991) * {dl(_GEOLOC_TY)} AS py
  FROM documents
), q AS (
  SELECT doc_id, px, py,
         CAST(FLOOR(px) AS BIGINT) AS gi,
         CAST(FLOOR(py) AS BIGINT) AS gj
  FROM p
), c AS (
  SELECT doc_id, px - gi AS fx, py - gj AS fy,
         (-8.0e1 + gi * 5.0e-1) + (gi * gj) * {c1} AS x00,
         (-8.0e1 + (gi + 1) * 5.0e-1) + ((gi + 1) * gj) * {c1} AS x10,
         (-8.0e1 + gi * 5.0e-1) + (gi * (gj + 1)) * {c1} AS x01,
         (-8.0e1 + (gi + 1) * 5.0e-1) + ((gi + 1) * (gj + 1)) * {c1} AS x11,
         (5.0e1 - gj * 5.0e-1) + (gi * gj) * {c2} AS y00,
         (5.0e1 - gj * 5.0e-1) + ((gi + 1) * gj) * {c2} AS y10,
         (5.0e1 - (gj + 1) * 5.0e-1) + (gi * (gj + 1)) * {c2} AS y01,
         (5.0e1 - (gj + 1) * 5.0e-1) + ((gi + 1) * (gj + 1)) * {c2} AS y11
  FROM q
)
SELECT doc_id,
       (1.0e0 - fy) * (x00 + fx * (x10 - x00))
         + fy * (x01 + fx * (x11 - x01)) AS geo_x,
       (1.0e0 - fy) * (y00 + fx * (y10 - y00))
         + fy * (y01 + fx * (y11 - y01)) AS geo_y
FROM c
"""


def _q_geoloc_roundtrip(spark, sf_dir):
    # Forward + EXACT inverse bilinear (geo/geoloc.py:roundtrip_cells —
    # the reference's GDALInverseBilinearInterpolation,
    # alg/gdalgeoloc.cpp:967, quadratic in s) fully relationally: the
    # containing quad is the joined cell, so the spiral search of the
    # NumPy inverse is unnecessary and the whole chain is one broadcast
    # join + column expressions. sqrt is correctly-rounded IEEE in both
    # engines (CLAUDE.md's oracle-safe op set), so the twin hashes
    # bit-exactly.
    from lib_gdal_spark.geo import geoloc as glmod
    gl = _geoloc_demo()
    d = _tbl(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"))
    pts = d.select(
        "doc_id",
        ((F.col("doc_id") % 997) * _GEOLOC_TX).alias("px"),
        ((F.col("doc_id") % 991) * _GEOLOC_TY).alias("py"))
    out = glmod.roundtrip_cells(pts, glmod.cells_df(spark, gl), gl)
    return out.select("doc_id", "geo_x", "geo_y", "px_rec", "py_rec")


def _o_geoloc_roundtrip() -> str:
    def dl(x):
        return f"{float(x):.17e}"
    c1, c2 = dl(_GEOLOC_C1), dl(_GEOLOC_C2)
    return f"""
WITH p AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         (CAST(doc_id AS BIGINT) % 997) * {dl(_GEOLOC_TX)} AS px,
         (CAST(doc_id AS BIGINT) % 991) * {dl(_GEOLOC_TY)} AS py
  FROM documents
), q AS (
  SELECT doc_id, px, py,
         CAST(FLOOR(px) AS BIGINT) AS gi,
         CAST(FLOOR(py) AS BIGINT) AS gj
  FROM p
), c AS (
  SELECT doc_id, gi, gj, px - gi AS fx, py - gj AS fy,
         (-8.0e1 + gi * 5.0e-1) + (gi * gj) * {c1} AS x00,
         (-8.0e1 + (gi + 1) * 5.0e-1) + ((gi + 1) * gj) * {c1} AS x10,
         (-8.0e1 + gi * 5.0e-1) + (gi * (gj + 1)) * {c1} AS x01,
         (-8.0e1 + (gi + 1) * 5.0e-1) + ((gi + 1) * (gj + 1)) * {c1} AS x11,
         (5.0e1 - gj * 5.0e-1) + (gi * gj) * {c2} AS y00,
         (5.0e1 - gj * 5.0e-1) + ((gi + 1) * gj) * {c2} AS y10,
         (5.0e1 - (gj + 1) * 5.0e-1) + (gi * (gj + 1)) * {c2} AS y01,
         (5.0e1 - (gj + 1) * 5.0e-1) + ((gi + 1) * (gj + 1)) * {c2} AS y11
  FROM q
), f AS (
  SELECT *,
         (1.0e0 - fy) * (x00 + fx * (x10 - x00))
           + fy * (x01 + fx * (x11 - x01)) AS geo_x,
         (1.0e0 - fy) * (y00 + fx * (y10 - y00))
           + fy * (y01 + fx * (y11 - y01)) AS geo_y
  FROM c
), ab AS (
  SELECT *,
         (x00 - geo_x) * (y00 - y10) - (y00 - geo_y) * (x00 - x10) AS a,
         (((x00 - geo_x) * (y01 - y11) - (y00 - geo_y) * (x01 - x11))
          + ((x01 - geo_x) * (y00 - y10)
             - (y01 - geo_y) * (x00 - x10))) / 2.0e0 AS b,
         (x01 - geo_x) * (y01 - y11) - (y01 - geo_y) * (x01 - x11) AS cc
  FROM f
), sg AS (
  SELECT *,
         ABS(a) + ABS(b) + ABS(cc) AS mag,
         ABS(a - 2.0e0 * b + cc)
           <= 1.0e-12 * (ABS(a) + ABS(b) + ABS(cc)) AS lin,
         SQRT(GREATEST(b * b - a * cc, 0.0e0)) AS disc
  FROM ab
), ss AS (
  SELECT *,
         CASE WHEN lin
              THEN a / (CASE WHEN lin THEN a - cc ELSE 1.0e0 END)
              ELSE (CASE WHEN ((a - b) + disc)
                           / (CASE WHEN lin THEN 1.0e0
                                   ELSE a - 2.0e0 * b + cc END) < 0
                         OR ((a - b) + disc)
                           / (CASE WHEN lin THEN 1.0e0
                                   ELSE a - 2.0e0 * b + cc END) > 1
                    THEN ((a - b) - disc)
                           / (CASE WHEN lin THEN 1.0e0
                                   ELSE a - 2.0e0 * b + cc END)
                    ELSE ((a - b) + disc)
                           / (CASE WHEN lin THEN 1.0e0
                                   ELSE a - 2.0e0 * b + cc END) END)
         END AS s
  FROM sg
), td AS (
  SELECT *,
         (1.0e0 - s) * (x00 - x10) + s * (x01 - x11) AS t_dx,
         (1.0e0 - s) * (y00 - y10) + s * (y01 - y11) AS t_dy
  FROM ss
), ux AS (
  SELECT *,
         ABS(t_dx) > 1.0e-12 * mag AS use_x,
         NOT (ABS(t_dx) > 1.0e-12 * mag)
           AND ABS(t_dy) > 1.0e-12 * mag AS use_y
  FROM td
), fi_ AS (
  SELECT *,
         gi + CASE WHEN use_x
                   THEN ((1.0e0 - s) * (x00 - geo_x) + s * (x01 - geo_x))
                          / (CASE WHEN use_x THEN t_dx ELSE 1.0e0 END)
                   ELSE CASE WHEN use_y
                        THEN ((1.0e0 - s) * (y00 - geo_y)
                              + s * (y01 - geo_y))
                               / (CASE WHEN use_y THEN t_dy
                                       ELSE 1.0e0 END)
                        ELSE 0.0e0 END
              END AS fi,
         gj + s AS fj
  FROM ux
)
SELECT doc_id, geo_x, geo_y,
       (fi + 0.0e0) * 1.0e0 + 0.0e0 AS px_rec,
       (fj + 0.0e0) * 1.0e0 + 0.0e0 AS py_rec
FROM fi_
"""


def _q_coverage_check(spark, sf_dir):
    # Polygonal-coverage validation (operators/coverage.py — `gdal
    # vector check-coverage`, apps/gdalalg_vector_check_coverage.cpp /
    # GEOS CoverageValidator): a 1-D chain of 10x10 rects where every
    # doc_id % 7 == 3 rect is shifted left by a dyadic 0.125 so it
    # overlaps its left neighbor (the reference autotest's 9.9-overlap
    # shape). The invalid-segment classification runs the full generic
    # path (grid-cell pair join with report-point dedup + exact NumPy
    # kernel); the oracle is the closed-form of what that classification
    # yields on this chain: a shifted rect flags left+bottom+top, its
    # left neighbor right+bottom+top, everything else is a clean
    # vertex-matched coverage (n_invalid = 0). All coords are exact
    # dyadic doubles, seg lengths are sqrt(100) = 10 exactly.
    from lib_gdal_spark.operators import coverage as cov
    d = _tbl(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("poly_id"))
    shift = F.when(F.col("poly_id") % 7 == 3, F.lit(0.125)).otherwise(
        F.lit(0.0))
    lo = F.col("poly_id") * 10.0 - shift
    hi = lo + 10.0
    polys = d.select(
        "poly_id",
        F.array(lo, hi, hi, lo, lo).alias("xs"),
        F.array(F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(10.0),
                F.lit(0.0)).alias("ys"))
    return cov.check_coverage(polys, cell_size=10.0).select(
        "poly_id", "n_invalid", "invalid_len")


def _o_coverage_check() -> str:
    return """
WITH mx AS (SELECT MAX(CAST(doc_id AS BIGINT)) AS m FROM documents),
p AS (
  SELECT CAST(doc_id AS BIGINT) AS poly_id,
         CAST(doc_id AS BIGINT) % 7 = 3 AS shifted,
         (CAST(doc_id AS BIGINT) + 1) % 7 = 3
           AND CAST(doc_id AS BIGINT) + 1 <= (SELECT m FROM mx)
           AS shifted_next
  FROM documents
)
SELECT poly_id,
       CAST(CASE WHEN shifted OR shifted_next THEN 3 ELSE 0 END
            AS BIGINT) AS n_invalid,
       CASE WHEN shifted OR shifted_next THEN 3.0e1 ELSE 0.0e0 END
         AS invalid_len
FROM p
"""


def _q_coverage_simplify(spark, sf_dir):
    # Topology-aware coverage simplification (operators/coverage.py
    # simplify_coverage — `gdal vector simplify-coverage` /
    # GEOS CoverageSimplifier): a VALID abutting rect chain whose edges
    # are densified with collinear points (horizontal density varies
    # with doc_id, vertical splits are dyadic j/2 so both neighbors
    # generate the shared edge vertices bit-identically — the exact
    # vertex-match coverage requirement). Douglas-Peucker on axis-
    # aligned chains is exact (perp distance is exactly 0 for the
    # collinear fillers, exactly 10 for corners), so the simplified
    # rings are exactly the 4 corners + closure and the shoelace fold
    # is exactly 100.0 — closed-form oracle. poly.shp autotest replay
    # and shared-arc consistency live in tests/test_coverage.py.
    from lib_gdal_spark.operators import coverage as cov
    d = _tbl(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("poly_id"))
    mh = (F.col("poly_id") % 4 + 1).cast("int")     # 1..4 fillers
    x0 = F.col("poly_id") * 10.0
    x1 = x0 + 10.0
    y0, y1 = F.lit(0.0), F.lit(10.0)

    def seg(a, b, m):
        # m+1 points from a toward b (excl. b), fractions j/(m+1)
        return F.transform(
            F.sequence(F.lit(0), m),
            lambda j: a + (b - a) * (j.cast("double") / (m + 1)))

    xs = F.concat(seg(x0, x1, mh), seg(x1, x1, F.lit(1)),
                  seg(x1, x0, mh), seg(x0, x0, F.lit(1)), F.array(x0))
    ys = F.concat(seg(y0, y0, mh), seg(y0, y1, F.lit(1)),
                  seg(y1, y1, mh), seg(y1, y0, F.lit(1)), F.array(y0))
    polys = d.select("poly_id", xs.alias("xs"), ys.alias("ys"))
    before = polys.select("poly_id",
                          F.size("xs").cast("long").alias("n_before"))
    simp = cov.simplify_coverage(polys, tolerance=0.5)
    terms = F.transform(
        F.sequence(F.lit(0), F.size("xs") - 2),
        lambda i: F.col("xs")[i] * F.col("ys")[i + 1]
        - F.col("xs")[i + 1] * F.col("ys")[i])
    area = F.abs(F.aggregate(terms, F.lit(0.0),
                             lambda acc, x: acc + x)) * 0.5
    out = simp.select(
        "poly_id",
        F.size("xs").cast("long").alias("n_after"),
        area.alias("area"))
    return out.join(before, "poly_id").select(
        "poly_id", "n_before", "n_after", "area")


def _o_coverage_simplify() -> str:
    return """
SELECT CAST(doc_id AS BIGINT) AS poly_id,
       CAST(2 * (CAST(doc_id AS BIGINT) % 4) + 9 AS BIGINT) AS n_before,
       CAST(5 AS BIGINT) AS n_after,
       1.0e2 AS area
FROM documents
"""


def _q_coverage_clean(spark, sf_dir):
    # Coverage cleaning (operators/coverage.py clean_coverage — `gdal
    # vector clean-coverage` / GEOS CoverageCleaner; the circles
    # autotest replays all four merge strategies to the autotest's own
    # 0.01 tolerance in tests/test_coverage.py). Here: the shifted-rect
    # chain with a DYADIC 2.5 shift, so every overlay intersection
    # parameter (t = 2.5/10 = 0.25) and output vertex is an exact
    # double and the cleaned areas are exactly 100.0 / 75.0 —
    # closed-form oracle. min-index strategy: the lower id keeps the
    # overlap piece, the shifted rect loses 2.5 x 10.
    from lib_gdal_spark.operators import coverage as cov
    d = _tbl(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("poly_id"))
    shift = F.when(F.col("poly_id") % 7 == 3, F.lit(2.5)).otherwise(
        F.lit(0.0))
    lo = F.col("poly_id") * 10.0 - shift
    hi = lo + 10.0
    polys = d.select(
        "poly_id",
        F.array(lo, hi, hi, lo, lo).alias("xs"),
        F.array(F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(10.0),
                F.lit(0.0)).alias("ys"))
    out = cov.clean_coverage(polys, cell_size=10.0,
                             merge_strategy="min-index")
    return out.select("poly_id", "area",
                      F.col("n_parts").cast("long").alias("n_parts"))


def _o_coverage_clean() -> str:
    return """
SELECT CAST(doc_id AS BIGINT) AS poly_id,
       CASE WHEN CAST(doc_id AS BIGINT) % 7 = 3
            THEN 7.5e1 ELSE 1.0e2 END AS area,
       CAST(1 AS BIGINT) AS n_parts
FROM documents
"""


def _q_graph_sssp_blocked(spark, sf_dir):
    # GNM ChangeBlockState barriers (graph._barriers): hub vertex 100
    # and the chain edge (3,4) blocked — 16 of 29 reachable distances
    # change vs the unblocked run, so the barrier anti-joins are what
    # this query actually verifies. Oracle: the same simple-path
    # recursive CTE as graph_sssp over the barrier-filtered edge table.
    out = graph.sssp(_kpath_edges(spark, sf_dir), source=0,
                     blocked_vertices=[100], blocked_edges=[(3, 4)])
    return out.select("vertex", "dist")


def _q_graph_components(spark, sf_dir):
    return graph.connected_components(_graph_edges(spark, sf_dir))


#: (multiplier, offset) per synthetic out-link — primes so the document
#: link graph is well-mixed; shared verbatim by the duckdb oracle.
_PR_LINKS = ((7, 1), (13, 5), (31, 11))
_PR_ITERS = 6
_PR_SCALE = 10 ** 12


def _pagerank_edges(spark, sf_dir, n_docs: int):
    """Deterministic directed doc-link graph: doc v links to
    (v*a + b) % n for the 3 prime pairs in _PR_LINKS (self-loops
    dropped) — pure modular arithmetic, identical in both engines."""
    d = _tbl(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("v"))
    e = None
    for a, b in _PR_LINKS:
        ei = d.select(F.col("v").alias("src"),
                      ((F.col("v") * a + b) % n_docs).alias("dst"))
        e = ei if e is None else e.unionByName(ei)
    return e.filter(F.col("src") != F.col("dst"))


def _q_pagerank_docs(spark, sf_dir):
    # Integer PageRank (operators/graph.py:pagerank): 6 power iterations
    # in scaled BIGINT arithmetic (truncating div) -> bit-exact on any
    # engine/partitioning; oracle is the same recurrence unrolled as 6
    # chained GROUP-BY CTEs. Top-25 by rank desc, vertex asc.
    n = _tbl(spark, sf_dir, "documents").count()  # bounded scalar fetch
    ranks = graph.pagerank(_pagerank_edges(spark, sf_dir, n),
                           iterations=_PR_ITERS, scale=_PR_SCALE)
    return (ranks.orderBy(F.desc("rank"), F.asc("vertex")).limit(25)
                 .select("vertex", "rank"))


_KM_K = 8
_KM_ITERS = 4
_KM_QUANT = 10 ** 6
# SemDeDup threshold 0.40: the synthetic embeddings have no true
# near-dups (within-cluster cosine maxes at 0.51/0.60), so the
# threshold targets the measured ~0.1% pair tail — 26/500 dups at
# sf0.01, 289/2000 at sf0.1 (nonzero at BOTH scales per CLAUDE.md's
# fixed-constant rule)
_SD_TAU_NUM = 40
_SD_TAU_DEN = 100


def _q_kmeans_docs(spark, sf_dir):
    # Lloyd k-means over the embeddings table
    # (operators/clustering.py:kmeans): k=8, 4 fixed iterations, all
    # arithmetic integer after the shared floor(x*1e6 + 0.5)
    # quantization -> bit-exact on any engine/partitioning; the oracle
    # unrolls the iterations as chained CTEs (pagerank precedent).
    # Assignments are shuffle-free (literal centroids); each update is
    # one map-side-combinable groupBy emitting k rows.
    from lib_gdal_spark.operators import clustering
    return clustering.kmeans(_tbl(spark, sf_dir, "embeddings"),
                             k=_KM_K, iterations=_KM_ITERS,
                             quant=_KM_QUANT)


def _q_cluster_prune(spark, sf_dir):
    # Prototypicality pruning (clustering.prototype_prune, Sorscher et
    # al. 2022): keep the hardest 2/5 per kmeans cluster. Ranking uses
    # the integer dist2 with (d2 desc, id asc) tie-break; the keep test
    # is the integer inequality rank*5 <= n*2 — no float fraction.
    from lib_gdal_spark.operators import clustering
    return clustering.prototype_prune(
        _tbl(spark, sf_dir, "embeddings"), k=_KM_K,
        iterations=_KM_ITERS, keep_num=2, keep_den=5, quant=_KM_QUANT)


def _q_semdedup_docs(spark, sf_dir):
    # SemDeDup (operators/clustering.py:semantic_dedup): kmeans clusters
    # bound the pair search; within a cluster, keep-first (lowest id)
    # under an integer-exact cosine >= 0.40 test in DECIMAL(38,0).
    from lib_gdal_spark.operators import clustering
    return clustering.semantic_dedup(
        _tbl(spark, sf_dir, "embeddings"), k=_KM_K,
        iterations=_KM_ITERS, tau_num=_SD_TAU_NUM, tau_den=_SD_TAU_DEN,
        quant=_KM_QUANT)


def _q_inverted_index(spark, sf_dir):
    # Inverted-index build (operators/relevance.py:inverted_index):
    # distinct (doc, term) pairs -> one groupBy(term) shuffle; postings
    # as ascending comma-joined doc_ids (sort_array -> deterministic).
    from lib_gdal_spark.operators import relevance
    return relevance.inverted_index(_tbl(spark, sf_dir, "documents"),
                                    min_df=2, k=100)


def _q_dem_tpi(spark, sf_dir):
    # TPI = value - mean(8 neighbors) (gdaldem); sparse-grid semantics:
    # only neighbors present contribute
    out = focal.tpi(_base_grid8(spark, sf_dir))
    return out.select("bx", "by", "value", F.round("tpi", 9).alias("tpi"))


def _q_dem_roughness(spark, sf_dir):
    out = focal.roughness(_base_grid8(spark, sf_dir))
    return out.select("bx", "by", "value", "roughness")


def _q_mdim_subset_reduce(spark, sf_dir):
    # GDALMDArray surface (gcore/gdalmultidim.cpp GetView + statistics):
    # 3-D array from documents -> strided subset d0[2:8:2] (index-rebased
    # view) -> mean-reduce over d2 -> 2-D result
    d = _tbl(spark, sf_dir, "documents")
    cube = (
        d.select(
            (F.col("doc_id") % 10).alias("d0"),
            (F.floor(F.col("doc_id") / 10) % 10).alias("d1"),
            (F.floor(F.col("doc_id") / 100) % 5).alias("d2"),
            "n_chars",
        )
        .groupBy("d0", "d1", "d2")
        .agg(F.sum("n_chars").cast("double").alias("value"))
    )
    a = mdim.MDArray.from_long(cube, ["d0", "d1", "d2"])
    out = a.subset(d0=(2, 8, 2)).reduce("d2", how="mean")
    return out.df.select("d0", "d1", "value")


def _q_mdim_resample_mask(spark, sf_dir):
    # GDALMDArray round-4 remainder (VERDICT item 10): GetMask +
    # GetResampled (gcore/gdalmultidim.cpp GDALMDArrayMask /
    # GDALMDArrayResampled). Chain: 2-D array -> strided GetView on x
    # -> mask(valid_min/valid_max) applied as absent rows -> NEAREST
    # resample of y 32->24 (RasterIO decimation rule, non-integer
    # ratio) -> AVERAGE resample of x 16->8 (integer factor bin mean).
    # Every step is pure Catalyst; the duckdb twin replays the same
    # index arithmetic relationally.
    d = _tbl(spark, sf_dir, "documents")
    grid = (d.select((F.col("doc_id") % 32).alias("x"),
                     (F.expr("doc_id div 32") % 32).alias("y"), "n_chars")
            .groupBy("y", "x")
            .agg((F.min("n_chars") % 200).cast("double").alias("value")))
    a = mdim.MDArray.from_long(grid, ["y", "x"])
    a = a.subset(x=(0, 32, 2))
    a = a.apply_mask(a.mask(valid_min=5, valid_max=190))
    a = a.resampled({"y": (32, 24)}, alg="nearest")
    a = a.resampled({"x": (16, 8)}, alg="average")
    return a.df.select("y", "x", "value")


def _o_mdim_resample_mask() -> str:
    ratio = 32.0 / 24.0

    def dl(x):
        return f"{float(x):.17e}"

    return f"""
WITH d AS (SELECT CAST(doc_id % 32 AS BIGINT) AS x0,
                  CAST(floor(doc_id/32.0) AS BIGINT) % 32 AS y0, n_chars
           FROM documents),
cells AS (SELECT y0, x0, CAST(min(n_chars) % 200 AS DOUBLE) AS v
          FROM d GROUP BY 1, 2),
strided AS (SELECT y0, CAST((x0 - 0) // 2 AS BIGINT) AS x1, v
            FROM cells WHERE x0 >= 0 AND x0 < 32 AND (x0 - 0) % 2 = 0),
masked AS (SELECT * FROM strided WHERE v >= 5e0 AND v <= 1.9e2),
resy AS (SELECT j.j AS y, m.x1, m.v
         FROM masked m
         JOIN (SELECT unnest(generate_series(0, 23)) AS j) j
           ON floor((CAST(j.j AS DOUBLE) + 5e-1) * {dl(ratio)} + 1e-10)
              = m.y0)
SELECT y, CAST(x1 // 2 AS BIGINT) AS x, avg(v) AS value
FROM resy GROUP BY y, x1 // 2
"""


_ARC_Q = (10.0 / 997.0, 10.0 / 991.0, 10.0 / 983.0, 10.0 / 977.0)
_ARC_H = 1.0 / 13.0
_ARC_STEP = 4.0 / 180.0 * float(np.pi)  # default OGR_ARC_STEPSIZE, radians


def _q_curve_stroke(spark, sf_dir):
    # CircularString arc metrics + default stroking (GetCurveParameters /
    # curveToLineString, ogrgeometryfactory.cpp:5415/:5677): synthetic
    # 3-point arcs from customer keys (prime-denominator coords so no
    # rounding knife-edges), stroked by the REAL kernel inside one
    # mapInPandas pass. cx/cy are bit-exact rational math (unrounded
    # doubles in the hash); r/arc-length are micro-unit scaled-floor ints;
    # n_pts is measured from the actual stroked array and must equal the
    # oracle's step-count formula (stealth >= 7-step odd-parity rule).
    from lib_gdal_spark.operators import arcstroke

    q997, q991, q983, q977 = _ARC_Q
    c = _tbl(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("gid"))
    pts = c.select(
        "gid",
        ((F.col("gid") * 13 + 1) % 997).cast("double") * F.lit(q997),
        ((F.col("gid") * 29 + 2) % 991).cast("double") * F.lit(q991),
        ((F.col("gid") * 17 + 3) % 983).cast("double") * F.lit(q983),
        ((F.col("gid") * 31 + 5) % 977).cast("double") * F.lit(q977),
        (F.lit(1) + (F.col("gid") % 7)).cast("double") * F.lit(_ARC_H),
    ).toDF("gid", "x0", "y0", "x2", "y2", "h")
    pts = pts.select(
        "gid", "x0", "y0",
        ((F.col("x0") + F.col("x2")) * F.lit(0.5)
         - (F.col("y2") - F.col("y0")) * F.col("h")).alias("x1"),
        ((F.col("y0") + F.col("y2")) * F.lit(0.5)
         + (F.col("x2") - F.col("x0")) * F.col("h")).alias("y1"),
        "x2", "y2",
    ).filter(~((F.col("x0") == F.col("x2")) & (F.col("y0") == F.col("y2"))))
    out = arcstroke.arc_metrics(pts, "gid").filter(F.col("r").isNotNull())
    return out.select(
        "gid", "cx", "cy",
        F.floor(F.col("r") * F.lit(1e6) + F.lit(0.5)).alias("r_um"),
        F.floor(F.col("r") * F.col("sweep") * F.lit(1e6)
                + F.lit(0.5)).alias("len_um"),
        "n_pts")


def _o_curve_stroke() -> str:
    def dl(x):
        return f"{float(x):.17e}"

    q997, q991, q983, q977 = _ARC_Q
    two_pi = 2.0 * float(np.pi)
    return f"""
WITH base AS (
  SELECT c_custkey AS gid,
         CAST((c_custkey*13+1) % 997 AS DOUBLE) * {dl(q997)} AS x0,
         CAST((c_custkey*29+2) % 991 AS DOUBLE) * {dl(q991)} AS y0,
         CAST((c_custkey*17+3) % 983 AS DOUBLE) * {dl(q983)} AS x2,
         CAST((c_custkey*31+5) % 977 AS DOUBLE) * {dl(q977)} AS y2,
         CAST(1 + (c_custkey % 7) AS DOUBLE) * {dl(_ARC_H)} AS h
  FROM customer),
p AS (
  SELECT gid, x0, y0,
         (x0 + x2) * 5e-1 - (y2 - y0) * h AS x1,
         (y0 + y2) * 5e-1 + (x2 - x0) * h AS y1,
         x2, y2
  FROM base WHERE NOT (x0 = x2 AND y0 = y2)),
dd AS (
  SELECT *, x1 - x0 AS dx01, y1 - y0 AS dy01,
            x2 - x1 AS dx12, y2 - y1 AS dy12
  FROM p),
sc AS (
  SELECT *, GREATEST(ABS(dx01), ABS(dy01), ABS(dx12), ABS(dy12)) AS s
  FROM dd),
nrm AS (
  SELECT gid, x0, y0, x1, y1, x2, y2, s, 1.0/s AS inv,
         dx01*(1.0/s) AS ndx01, dy01*(1.0/s) AS ndy01,
         dx12*(1.0/s) AS ndx12, dy12*(1.0/s) AS ndy12
  FROM sc WHERE s > 0),
det AS (
  SELECT *, ndx01*ndy12 - ndx12*ndy01 AS det FROM nrm),
ok AS (
  SELECT * FROM det WHERE ABS(det) >= 1e-8 AND NOT isnan(det)),
cc AS (
  SELECT *,
    ndx01*((x0+x1)*inv) + ndy01*((y0+y1)*inv) AS c01,
    ndx12*((x1+x2)*inv) + ndy12*((y1+y2)*inv) AS c12
  FROM ok),
ctr AS (
  SELECT *,
    0.5*s*(c01*ndy12 - c12*ndy01)/det AS cx,
    0.5*s*(-c01*ndx12 + c12*ndx01)/det AS cy
  FROM cc),
ang AS (
  SELECT *,
    atan2((y0-cy)*inv, (x0-cx)*inv) AS a0,
    atan2((y1-cy)*inv, (x1-cx)*inv) AS a1r,
    atan2((y2-cy)*inv, (x2-cx)*inv) AS a2r,
    SQRT((x0-cx)*(x0-cx) + (y0-cy)*(y0-cy)) AS r
  FROM ctr),
adj1 AS (
  SELECT *,
    CASE WHEN det < 0
         THEN a1r - CASE WHEN a1r > a0 THEN {dl(two_pi)} ELSE 0e0 END
         ELSE a1r + CASE WHEN a1r < a0 THEN {dl(two_pi)} ELSE 0e0 END
    END AS a1
  FROM ang),
adj2 AS (
  SELECT *,
    CASE WHEN det < 0
         THEN a2r - CASE WHEN a2r > a1 THEN {dl(two_pi)} ELSE 0e0 END
         ELSE a2r + CASE WHEN a2r < a1 THEN {dl(two_pi)} ELSE 0e0 END
    END AS a2
  FROM adj1),
met AS (
  SELECT gid, cx, cy, r, ABS(a2 - a0) AS sweep,
         CAST(FLOOR(ABS(a2 - a0) / {dl(_ARC_STEP)} + 0.5) AS BIGINT) AS n0
  FROM adj2)
SELECT gid, cx, cy,
       CAST(FLOOR(r * 1e6 + 0.5) AS BIGINT) AS r_um,
       CAST(FLOOR(r * sweep * 1e6 + 0.5) AS BIGINT) AS len_um,
       CASE WHEN n0 < 7 THEN 7 ELSE 7 + 2*((n0 - 7 + 1) // 2) END + 1
         AS n_pts
FROM met
"""


def _q_gpkg_roundtrip(spark, sf_dir):
    # GeoPackage source+sink with the codec IN the loop (the tile_render
    # pattern): synthesize point features from customer keys, write a
    # REAL .gpkg (sqlite3, StandardGeoPackageBinary blobs), read it back
    # with the rowid-range partitioned scan, and aggregate fid +
    # envelope micro-unit sums — the oracle computes the same totals
    # straight from customer, so a green hash row certifies
    # encode_gpb -> sqlite write -> partitioned read -> parse_gpb ->
    # WKB decode -> envelope, end to end.
    import os
    import tempfile

    from lib_gdal_spark import functions as fns
    from lib_gdal_spark.sources import geopackage as gp

    q997, q991 = _ARC_Q[0], _ARC_Q[1]
    c = _tbl(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("fid"),
        (((F.col("c_custkey") * 13 + 1) % 997).cast("double")
         * F.lit(q997)).alias("x"),
        (((F.col("c_custkey") * 29 + 2) % 991).cast("double")
         * F.lit(q991)).alias("y"))

    # st_point lives in the shipped package (UDFs defined in
    # __spark_entry__ itself would not unpickle on executors)
    fns.register_all(spark)
    feats = c.select("fid", F.expr("st_point(x, y)").alias("wkb"))
    path = os.path.join(tempfile.mkdtemp(prefix="gpkg_rt_"), "rt.gpkg")
    gp.write_gpkg(feats, path, layer="pts", geometry_type="POINT")
    back = gp.read_gpkg(spark, path)
    return back.select(
        "fid",
        F.floor(F.col("xmin") * F.lit(1e6) + F.lit(0.5)).alias("x_um"),
        F.floor(F.col("ymax") * F.lit(1e6) + F.lit(0.5)).alias("y_um"),
    ).groupBy((F.col("fid") % 10).alias("bucket")).agg(
        F.count("*").alias("n"),
        F.sum("fid").alias("fid_sum"),
        F.sum("x_um").alias("x_sum"),
        F.sum("y_um").alias("y_sum"))


def _o_gpkg_roundtrip() -> str:
    def dl(x):
        return f"{float(x):.17e}"

    return f"""
WITH pts AS (
  SELECT c_custkey AS fid,
         CAST((c_custkey*13+1) % 997 AS DOUBLE) * {dl(_ARC_Q[0])} AS x,
         CAST((c_custkey*29+2) % 991 AS DOUBLE) * {dl(_ARC_Q[1])} AS y
  FROM customer)
SELECT fid % 10 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(fid) AS BIGINT) AS fid_sum,
       CAST(SUM(CAST(FLOOR(x * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS x_sum,
       CAST(SUM(CAST(FLOOR(y * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS y_sum
FROM pts GROUP BY fid % 10
"""


def _q_mbtiles_roundtrip(spark, sf_dir):
    # MBTiles source+sink with the TMS row flip IN the loop: assign
    # pages to z=5 WebMercator tiles, pack each tile's page count into
    # an 8-byte big-endian blob (pure JVM: hex->lpad->unhex), write a
    # REAL .mbtiles (sqlite3, tiles+metadata tables, XYZ->TMS flip of
    # mbtilesdataset.cpp:1852), read it back with the rowid-range
    # partitioned scan (TMS->XYZ flip of :1665), and decode the count
    # (hex->conv). The oracle recomputes tile counts straight from the
    # page coordinates, so a green hash row certifies sink, source,
    # BOTH flips, and the binary codec end to end — a wrong flip moves
    # every tile to a different y and can never hash-match.
    import os
    import tempfile

    from lib_gdal_spark.sources import mbtiles as mb

    p = sjoin.with_tile(_pages(spark, sf_dir), zoom=5)
    base = p.groupBy(F.col("tile_x").alias("x"),
                     F.col("tile_y").alias("y")).agg(
        F.count("*").alias("n"))
    t = base.select(
        F.lit(5).cast("int").alias("z"), "x", "y",
        F.unhex(F.lpad(F.hex(F.col("n")), 16, "0")).alias("data"))
    path = os.path.join(tempfile.mkdtemp(prefix="mbt_rt_"), "rt.mbtiles")
    mb.write_mbtiles(t, path, name="pages_z5", fmt="bin")
    back = mb.read_mbtiles(spark, path)
    return back.select(
        "x", "y", F.conv(F.hex("data"), 16, 10).cast("long").alias("n"))


def _o_mbtiles_roundtrip() -> str:
    return f"""
WITH {_PAGES_CTE}
SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT {_dd_tile_x('lon', 5)} AS x, {_dd_tile_y('lat', 5)} AS y FROM pages)
GROUP BY x, y
"""


def _rt_points(spark, sf_dir):
    # integer-valued coordinates (CLAUDE.md: exactness claims ride on
    # integer-valued doubles — N(24,15) dBASE fields and WKT/JSON text
    # round-trips are all exact for them)
    c = _tbl(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("fid"),
        ((F.col("c_custkey") * 13 + 1) % 997).cast("double").alias("x"),
        ((F.col("c_custkey") * 29 + 2) % 991).cast("double").alias("y"))


_RT_ORACLE = """
WITH pts AS (
  SELECT c_custkey AS fid,
         CAST((c_custkey*13+1) % 997 AS BIGINT) AS x,
         CAST((c_custkey*29+2) % 991 AS BIGINT) AS y
  FROM customer)
SELECT fid % 10 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(fid) AS BIGINT) AS fid_sum,
       CAST(SUM(x) AS BIGINT) AS x_sum,
       CAST(SUM(y) AS BIGINT) AS y_sum
FROM pts GROUP BY fid % 10
"""


def _rt_summarize(df, fid="fid", x="x", y="y"):
    return df.select(
        F.col(fid).alias("fid"),
        F.col(x).cast("long").alias("xi"),
        F.col(y).cast("long").alias("yi"),
    ).groupBy((F.col("fid") % 10).alias("bucket")).agg(
        F.count("*").alias("n"),
        F.sum("fid").alias("fid_sum"),
        F.sum("xi").alias("x_sum"),
        F.sum("yi").alias("y_sum"))


def _q_gmt_roundtrip(spark, sf_dir):
    """GMT ASCII vector sink+source with the @-keyed-header codec IN
    the loop (sources/gmt.py after ogr/ogrsf_frmts/gmt/ogrgmtlayer.cpp
    — reader replayed against the test_multi.gmt autotest ladder):
    point features + an integer column out through write_gmt, read
    back via read_gmt, fid recovered from the typed JSON property."""
    import tempfile

    from lib_gdal_spark.geo import wkb as wkbmod
    from lib_gdal_spark.sources import gmt as gmtmod

    rows = _rt_points(spark, sf_dir).collect()
    path = tempfile.mktemp(prefix="gmt_rt_", suffix=".gmt")
    gmtmod.write_gmt(
        path,
        [(wkbmod.encode_point(float(r["x"]), float(r["y"])),
          [int(r["fid"])]) for r in rows],
        field_names=["custkey"], field_types=["integer"])
    back = gmtmod.read_gmt(spark, path)
    pts = back.select(
        F.get_json_object("properties", "$.custkey")
        .cast("long").alias("fid"),
        F.col("xmin").alias("x"), F.col("ymin").alias("y"))
    return _rt_summarize(pts)


def _q_shp_roundtrip(spark, sf_dir):
    # Shapefile writer+reader with the dBASE N-field codec IN the loop:
    # point features -> .shp/.shx/.dbf (driver-side assembly — the
    # dimension-sized sidecar contract sources/shapefile.py documents)
    # -> read_points_df -> bucket sums. A wrong record header, ring
    # order, or N(24,15) format can never hash-match the oracle.
    import os
    import tempfile

    from lib_gdal_spark.sources import shapefile as shp

    rows = _rt_points(spark, sf_dir).collect()
    feats = [{"fidv": float(r["fid"]),
              "geom": {"type": 1, "points": [(r["x"], r["y"])]}}
             for r in rows]
    path = os.path.join(tempfile.mkdtemp(prefix="shp_rt_"), "rt.shp")
    shp.write_shapefile(feats, path)
    back = shp.read_points_df(spark, path)
    return _rt_summarize(
        back.select(F.col("fidv").cast("long").alias("fid"), "x", "y"))


def _q_dted_roundtrip(spark, sf_dir):
    # DTED level-0 sink+source with the sign-magnitude column-record
    # codec IN the loop (sources/rawgrids.py; dted_api.c:639-660
    # semantics incl. the mis-generated two's-complement fixup, column
    # checksums VERIFIED on the read side). Values straddle zero so the
    # sign bit is genuinely exercised; absent cells round-trip as the
    # -32767 nodata and stay absent. A wrong header offset, column
    # order, sign encoding or checksum can never hash-match the oracle.
    import tempfile

    from lib_gdal_spark.sources import rawgrids as rg

    cells = (_tbl(spark, sf_dir, "documents")
             .groupBy((F.col("doc_id") % 121).alias("bx"),
                      F.expr("(doc_id div 121) % 121").alias("by"))
             .agg((F.min("n_chars") % 1500 - 700)
                  .cast("double").alias("value")))
    # lat 30 < 50: no longitude zone thinning, full 121x121 tile
    path = rg.write_dted(cells, tempfile.mkdtemp(prefix="dted_rt_"),
                         30, 13, level=0)
    back, _meta = rg.read_dted(spark, path, verify_checksum=True)
    return (back.groupBy((F.col("bx") % 10).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("bx").alias("bx_sum"),
                 F.sum("by").alias("by_sum"),
                 F.sum(F.col("value").cast("long")).alias("v_sum")))


def _o_dted_roundtrip() -> str:
    return """
WITH cells AS (
  SELECT CAST(doc_id % 121 AS BIGINT) AS bx,
         CAST((doc_id // 121) % 121 AS BIGINT) AS byy,
         CAST(min(n_chars) % 1500 - 700 AS BIGINT) AS v
  FROM documents GROUP BY 1, 2)
SELECT bx % 10 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(bx) AS BIGINT) AS bx_sum,
       CAST(sum(byy) AS BIGINT) AS by_sum,
       CAST(sum(v) AS BIGINT) AS v_sum
FROM cells GROUP BY 1
"""


def _q_gif_roundtrip(spark, sf_dir):
    # GIF sink+source with the pure-Python LZW codec IN the loop
    # (sources/gif.py — decode replays the reference's bug407
    # checksum 57921 incl. Adam-style interlace; encode round-trips
    # byte.tif to 4672): a dense 64x64 uint8 grid derived from the
    # documents table goes out through encode_gif and back through
    # read_gif; absent cells write as 0. A wrong LZW width bump,
    # dictionary reset, or sub-block framing can never hash-match.
    import os
    import tempfile

    import numpy as np

    from lib_gdal_spark.sources import gif as gifmod

    cells = (_tbl(spark, sf_dir, "documents")
             .groupBy((F.col("doc_id") % 64).alias("bx"),
                      F.expr("(doc_id div 64) % 64").alias("by"))
             .agg((F.min("n_chars") % 256).cast("int").alias("v"))
             ).collect()  # bounded: 4096 cells
    arr = np.zeros((64, 64), np.uint8)
    for r in cells:
        arr[63 - int(r["by"]), int(r["bx"])] = int(r["v"])
    path = os.path.join(tempfile.mkdtemp(prefix="gif_rt_"), "rt.gif")
    with open(path, "wb") as f:
        f.write(gifmod.encode_gif(arr))
    back, _meta = gifmod.read_gif(spark, path)
    return (back.groupBy((F.col("bx") % 10).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("bx").alias("bx_sum"),
                 F.sum("by").alias("by_sum"),
                 F.sum(F.col("value").cast("long")).alias("v_sum")))


def _o_gif_roundtrip() -> str:
    return """
WITH src AS (
  SELECT CAST(doc_id % 64 AS BIGINT) AS bx,
         CAST((doc_id // 64) % 64 AS BIGINT) AS byy,
         CAST(min(n_chars) % 256 AS BIGINT) AS v
  FROM documents GROUP BY 1, 2),
grid AS (SELECT gx.range AS bx, gy.range AS byy
         FROM range(64) gx, range(64) gy),
dense AS (
  SELECT g.bx, g.byy, COALESCE(s.v, 0) AS v
  FROM grid g LEFT JOIN src s ON s.bx = g.bx AND s.byy = g.byy)
SELECT bx % 10 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(bx) AS BIGINT) AS bx_sum,
       CAST(sum(byy) AS BIGINT) AS by_sum,
       CAST(sum(v) AS BIGINT) AS v_sum
FROM dense GROUP BY 1
"""


def _q_surfer_roundtrip(spark, sf_dir):
    # Surfer grid chain with all THREE codecs IN the loop
    # (sources/surfer.py — each decodes the reference's own gsg
    # fixture to checksum 4672 and gt (440720,60,0,3751320,0,-60)):
    # dense 40x40 grid -> GSAG ASCII -> GSBG float32 -> GS7BG float64
    # -> distributed cell table. Values are integer-valued doubles
    # (exact through float32) straddling zero.
    import os
    import tempfile

    import numpy as np

    from lib_gdal_spark.sources import surfer as sfm

    cells = (_tbl(spark, sf_dir, "documents")
             .groupBy((F.col("doc_id") % 40).alias("bx"),
                      F.expr("(doc_id div 40) % 40").alias("by"))
             .agg((F.min("n_chars") % 1500 - 700)
                  .cast("double").alias("v"))).collect()
    arr = np.zeros((40, 40), np.float64)
    for r in cells:
        arr[39 - int(r["by"]), int(r["bx"])] = float(r["v"])
    meta = {"xmin": 440750.0, "xmax": 440750.0 + 60.0 * 39,
            "ymin": 3750150.0, "ymax": 3750150.0 + 60.0 * 39,
            "dx": 60.0, "dy": 60.0}
    a1, m1 = sfm.decode_gsag(sfm.encode_gsag(arr, meta))
    a2, m2 = sfm.decode_gsbg(sfm.encode_gsbg(a1, m1))
    path = os.path.join(tempfile.mkdtemp(prefix="gsg_rt_"), "rt.grd")
    with open(path, "wb") as f:
        f.write(sfm.encode_gs7bg(a2, m2))
    back, _meta = sfm.read_surfer(spark, path)
    return (back.groupBy((F.col("bx") % 10).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("bx").alias("bx_sum"),
                 F.sum("by").alias("by_sum"),
                 F.sum(F.col("value").cast("long")).alias("v_sum")))


def _o_surfer_roundtrip() -> str:
    return """
WITH src AS (
  SELECT CAST(doc_id % 40 AS BIGINT) AS bx,
         CAST((doc_id // 40) % 40 AS BIGINT) AS byy,
         CAST(min(n_chars) % 1500 - 700 AS BIGINT) AS v
  FROM documents GROUP BY 1, 2),
grid AS (SELECT gx.range AS bx, gy.range AS byy
         FROM range(40) gx, range(40) gy),
dense AS (
  SELECT g.bx, g.byy, COALESCE(s.v, 0) AS v
  FROM grid g LEFT JOIN src s ON s.bx = g.bx AND s.byy = g.byy)
SELECT bx % 10 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(bx) AS BIGINT) AS bx_sum,
       CAST(sum(byy) AS BIGINT) AS by_sum,
       CAST(sum(v) AS BIGINT) AS v_sum
FROM dense GROUP BY 1
"""


def _q_fgb_roundtrip(spark, sf_dir):
    # FlatGeobuf sink+source with the hand-rolled flatbuffers codec IN
    # the loop (sources/flatgeobuf.py — vtable/offset layout validated
    # against the reference's own testfgb fixtures): point features +
    # a long property out as size-prefixed Feature tables, read back
    # through read_df, coordinates recovered from the WKB geometry.
    import os
    import tempfile

    from lib_gdal_spark import functions as fns
    from lib_gdal_spark.sources import flatgeobuf as fgb

    rows = _rt_points(spark, sf_dir).collect()
    feats = [{"geometry": ("point", (float(r["x"]), float(r["y"]))),
              "fidv": int(r["fid"])} for r in rows]
    path = os.path.join(tempfile.mkdtemp(prefix="fgb_rt_"), "rt.fgb")
    fgb.write_fgb(path, feats, [("fidv", "long")],
                  geometry_type="point")
    back = fgb.read_df(spark, path)
    fns.register_all(spark)
    pts = back.select(F.col("fidv").alias("fid"),
                      F.expr("st_x(geometry)").alias("x"),
                      F.expr("st_y(geometry)").alias("y"))
    return _rt_summarize(pts)


def _q_geojson_roundtrip(spark, sf_dir):
    # GeoJSONSeq sink+source with the RFC 7946 JSON codec IN the loop:
    # distributed write (mapInPandas part files), line-split
    # distributed read, envelope-derived coordinates.
    import os
    import tempfile

    from lib_gdal_spark.sources import geojson as gj

    p = _rt_points(spark, sf_dir)
    feats = p.select(
        "fid", F.lit("point").alias("kind"),
        F.expr("st_point(x, y)").alias("wkb"),
        F.to_json(F.struct((F.col("fid") % 7).alias("k")))
        .alias("properties"))
    from lib_gdal_spark import functions as fns
    fns.register_all(spark)
    path = os.path.join(tempfile.mkdtemp(prefix="gj_rt_"), "seq")
    gj.write_geojson_seq(feats, path)
    back = gj.read_geojson_seq(spark, path)
    return _rt_summarize(back, fid="fid", x="xmin", y="ymin")


def _q_gpx_roundtrip(spark, sf_dir):
    # GPX sink+source with the GPX-driver codec IN the loop
    # (sources/gpx.py — writer grouping byte-golden against
    # ogr_gpx_8_ref.txt, reader replayed against test.gpx): point
    # waypoints out through gpx_document (name carries the fid),
    # read back through the distributed binaryFile reader across
    # several part files.
    import os
    import tempfile

    from lib_gdal_spark.sources import gpx as gpxmod

    # GPX coordinates must be REAL lon/lat (the writer validates
    # ranges, ogrgpxlayer.cpp CheckAndFixCoordinatesValidity) — fold
    # the roundtrip integers into [-180,180)/[-90,90) and summarize
    # the folded values (oracle mirrors the fold)
    rows = _rt_points(spark, sf_dir).collect()
    d = tempfile.mkdtemp(prefix="gpx_rt_")
    nparts = 4
    parts = [[] for _ in range(nparts)]
    for r in rows:
        parts[int(r["fid"]) % nparts].append(
            {"lon": float(int(r["x"]) % 360 - 180),
             "lat": float(int(r["y"]) % 180 - 90),
             "name": str(int(r["fid"]))})
    for i, feats in enumerate(parts):
        gpxmod.write_gpx(os.path.join(d, f"part{i}.gpx"),
                         waypoints=feats)
    back = gpxmod.read_gpx(spark, d, "waypoints")
    pts = back.select(F.col("name").cast("long").alias("fid"),
                      F.col("xmin").alias("x"),
                      F.col("ymin").alias("y"))
    return _rt_summarize(pts)


def _q_kml_roundtrip(spark, sf_dir):
    # KML sink+source with the old-KML-driver codec IN the loop
    # (sources/kml.py — writer layout line-golden against the
    # reference's write_schema/two_layers autotests, reader replayed
    # against samples.kml): point Placemarks out through
    # kml_document (Name carries the fid, SchemaData unused), read
    # back through the distributed binaryFile reader, coordinates
    # recovered from the WKB geometry. Several part files so the
    # read is multi-task.
    import os
    import tempfile

    from lib_gdal_spark import functions as fns
    from lib_gdal_spark.sources import kml as kmlmod

    rows = _rt_points(spark, sf_dir).collect()
    d = tempfile.mkdtemp(prefix="kml_rt_")
    nparts = 4
    parts = [[] for _ in range(nparts)]
    for r in rows:
        parts[int(r["fid"]) % nparts].append(
            {"geom": ("point", (float(r["x"]), float(r["y"]))),
             "fields": {"Name": int(r["fid"])}})
    for i, feats in enumerate(parts):
        kmlmod.write_kml(os.path.join(d, f"part{i}.kml"),
                         [("pts", [("Name", "string")], feats)])
    back = kmlmod.read_kml(spark, d)
    fns.register_all(spark)
    pts = back.select(F.col("name").cast("long").alias("fid"),
                      F.expr("st_x(wkb)").alias("x"),
                      F.expr("st_y(wkb)").alias("y"))
    return _rt_summarize(pts)


def _q_gml_roundtrip(spark, sf_dir):
    # GML sink+source with the GML2 codec IN the loop (sources/gml.py
    # — reader replayed against ionic_wfs/rnf_eg/bom + the fid-variant
    # quartet, writer round-trips through the same reader): point
    # features out through gml_document (fid carried in a typed
    # Integer field), read back through the distributed binaryFile
    # reader across several part files, values recovered from the
    # properties JSON (the HSTORE pattern).
    import os
    import tempfile

    from lib_gdal_spark.sources import gml as gmlmod

    rows = _rt_points(spark, sf_dir).collect()
    d = tempfile.mkdtemp(prefix="gml_rt_")
    nparts = 4
    parts = [[] for _ in range(nparts)]
    for r in rows:
        parts[int(r["fid"]) % nparts].append(
            {"geom": ("point", (float(r["x"]), float(r["y"]))),
             "fields": {"custkey": int(r["fid"])}})
    for i, feats in enumerate(parts):
        gmlmod.write_gml(os.path.join(d, f"part{i}.gml"),
                         [("pts", feats)])
    back = gmlmod.read_gml(spark, d)
    pts = back.select(
        F.get_json_object("properties", "$.custkey")
        .cast("long").alias("fid"),
        F.col("xmin").alias("x"), F.col("ymin").alias("y"))
    return _rt_summarize(pts)


def _q_mif_roundtrip(spark, sf_dir):
    # MapInfo MIF/MID sink+source with the interchange codec IN the
    # loop (sources/mif.py — geometry stroking matched vertex-exact
    # against all_geoms.mif.golden.csv incl. RoundRect/Ellipse/Arc
    # arcs): point features + an Integer column out through write_mif
    # (paired .mid), read back through read_mif, fid recovered from
    # the typed attribute.
    import os
    import tempfile

    from lib_gdal_spark.sources import mif as mifmod

    rows = _rt_points(spark, sf_dir).collect()
    d = tempfile.mkdtemp(prefix="mif_rt_")
    feats = [{"geom": ("point", (float(r["x"]), float(r["y"]))),
              "fields": {"custkey": int(r["fid"])}} for r in rows]
    path = os.path.join(d, "rt.mif")
    mifmod.write_mif(path, [("custkey", "Integer")], feats)
    back = mifmod.read_mif(spark, path)
    pts = back.select(
        F.get_json_object("properties", "$.custkey")
        .cast("long").alias("fid"),
        F.col("xmin").alias("x"), F.col("ymin").alias("y"))
    return _rt_summarize(pts)


def _q_dxf_roundtrip(spark, sf_dir):
    # AutoCAD DXF sink+source with the entity codec IN the loop
    # (sources/dxf.py — reader replayed vertex-exact against the
    # reference's assorted/OCS/bulge/dimension autotest goldens): point
    # features out as TEXT entities (the text carries the fid, the
    # layer cycles), read back through the full entity reader (LABEL
    # style synthesis, layer table defaulting), fid recovered from the
    # Text field. A wrong group-code parse, %.17g coordinate
    # formatting, or TEXT translation can never hash-match.
    import os
    import tempfile

    from lib_gdal_spark.sources import dxf as dxfmod
    from lib_gdal_spark.geo import wkb as wkbmod

    rows = _rt_points(spark, sf_dir).collect()
    d = tempfile.mkdtemp(prefix="dxf_rt_")
    wrows = [(f"L{int(r['fid']) % 5}", "point",
              bytearray(wkbmod.encode_point(float(r["x"]),
                                            float(r["y"]))),
              str(int(r["fid"]))) for r in rows]
    wdf = spark.createDataFrame(
        wrows, "layer string, kind string, wkb binary, text string")
    path = os.path.join(d, "rt.dxf")
    dxfmod.write_dxf(wdf, path)
    back = dxfmod.read_dxf(spark, path)
    pts = back.select(F.col("text").cast("long").alias("fid"),
                      F.col("xmin").alias("x"),
                      F.col("ymin").alias("y"))
    return _rt_summarize(pts)


def _q_netcdf_roundtrip(spark, sf_dir):
    # netCDF classic sink+source with the CDF-1 codec IN the loop
    # (sources/netcdf.py — reader replays byte.nc cs 4672 / bug636 tas
    # cs 31621 / trmm-2x2 geotransform): an sf-sensitive W x H grid of
    # integer-valued doubles v = ((y*W+x)*13+7) % 997 goes out through
    # write_netcdf (bottom-up with lat/lon coordinate vars), comes back
    # through the north-up flip, and per-row-band sums are compared.
    # A wrong begin offset, record/row order, or flip direction can
    # never hash-match the oracle.
    import math
    import os
    import tempfile

    from lib_gdal_spark.sources import netcdf as ncmod

    n_cust = _tbl(spark, sf_dir, "customer").count()
    W = 64
    H = int(math.isqrt(n_cust))
    yy, xx = np.mgrid[0:H, 0:W]
    a = (((yy * W + xx) * 13 + 7) % 997).astype(np.float64)
    path = os.path.join(tempfile.mkdtemp(prefix="nc_rt_"), "rt.nc")
    ncmod.write_netcdf(path, a)
    cells, _meta = ncmod.read_netcdf(spark, path)
    return (cells
            .groupBy((F.col("by") % 8).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("long")).alias("v_sum"),
                 F.sum((F.col("bx") * F.col("value").cast("long")))
                 .cast("long").alias("xv_sum")))


def _o_netcdf_roundtrip() -> str:
    # duckdb's range() table function only takes CONSTANT bounds — the
    # data-derived grid size is cut from a row_number sequence instead:
    # customer x range(0,64) yields 64n complete row numbers and
    # 64n >= 64*isqrt(n) always, so filtering i < w*h leaves exactly
    # the set {0 .. w*h-1} regardless of scan order
    return """
WITH dims AS (
  SELECT CAST(64 AS BIGINT) AS w,
         CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS h
  FROM customer
), seq AS (
  SELECT CAST(ROW_NUMBER() OVER () - 1 AS BIGINT) AS i
  FROM customer CROSS JOIN range(0, 64)
), g AS (
  SELECT CAST(t.i % d.w AS BIGINT) AS bx,
         CAST(d.h - 1 - (t.i // d.w) AS BIGINT) AS by,
         CAST(((t.i * 13 + 7) % 997) AS BIGINT) AS v
  FROM seq t, dims d
  WHERE t.i < d.w * d.h
)
SELECT by % 8 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(v) AS BIGINT) AS v_sum,
       CAST(SUM(bx * v) AS BIGINT) AS xv_sum
FROM g GROUP BY by % 8
"""


def _q_topojson_read(spark, sf_dir):
    # TopoJSON quantized-topology read with the arc/point transform
    # codec IN the loop (sources/topojson.py — full junk-tolerance
    # matrix replayed against ogr_topojson.py): customer points
    # quantized as integer positions under transform scale (2,3)
    # translate (7,11), read back distributed, decoded coordinates
    # summarized. A wrong transform application or id stringification
    # can never hash-match.
    import json
    import os
    import tempfile

    rows = _rt_points(spark, sf_dir).collect()
    d = tempfile.mkdtemp(prefix="tj_rt_")
    nparts = 4
    parts = [[] for _ in range(nparts)]
    for r in rows:
        parts[int(r["fid"]) % nparts].append(
            {"type": "Point",
             "coordinates": [int(r["x"]), int(r["y"])],
             "id": int(r["fid"])})
    for i, objs in enumerate(parts):
        topo = {"type": "Topology", "arcs": [],
                "transform": {"scale": [2, 3], "translate": [7, 11]},
                "objects": objs}
        with open(os.path.join(d, f"p{i}.topojson"), "w") as f:
            json.dump(topo, f)
    from lib_gdal_spark.sources import topojson as tj
    back = tj.read_topojson(spark, d)
    pts = back.select(F.col("id").cast("long").alias("fid"),
                      F.col("xmin").alias("x"),
                      F.col("ymin").alias("y"))
    return _rt_summarize(pts)


def _o_topojson_read() -> str:
    return """
WITH pts AS (
  SELECT c_custkey AS fid,
         CAST(2 * ((c_custkey*13+1) % 997) + 7 AS BIGINT) AS x,
         CAST(3 * ((c_custkey*29+2) % 991) + 11 AS BIGINT) AS y
  FROM customer)
SELECT fid % 10 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(fid) AS BIGINT) AS fid_sum,
       CAST(SUM(x) AS BIGINT) AS x_sum,
       CAST(SUM(y) AS BIGINT) AS y_sum
FROM pts GROUP BY fid % 10
"""


def _q_geocsv_roundtrip(spark, sf_dir):
    # CSV vector sink+source: WKT column out (GEOMETRY=AS_WKT), the
    # splittable spark.read.csv scan + Arrow WKT decode back.
    import os
    import tempfile

    from lib_gdal_spark import functions as fns
    from lib_gdal_spark.sources import geocsv as gc

    fns.register_all(spark)
    p = _rt_points(spark, sf_dir)
    feats = p.select(
        "fid", F.lit("point").alias("kind"),
        F.expr("st_point(x, y)").alias("wkb"))
    path = os.path.join(tempfile.mkdtemp(prefix="csv_rt_"), "csv")
    gc.write_geocsv(feats, path)
    back = gc.read_geocsv(spark, path, wkt_col="wkt")
    return _rt_summarize(back, fid="fid", x="xmin", y="ymin")


def _q_quality_classifier(spark, sf_dir):
    # fastText-style linear classifier INFERENCE over hashed uni+bigram
    # features (textops.quality_classifier_score): all-integer folds,
    # weights are Column math on the bucket id — bit-exact, no dim
    # table, no broadcast.
    from lib_gdal_spark.operators import textops

    d = _tbl(spark, sf_dir, "documents")
    return textops.quality_classifier_score(d, n_buckets=2048)


def _o_quality_classifier() -> str:
    return """
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
ng AS (
  SELECT doc_id, ng FROM (
    SELECT doc_id, unnest(t) AS ng FROM tok
    UNION ALL
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i + 1])) AS ng
    FROM tok
  ) WHERE length(ng) > 0
),
bk AS (
  SELECT doc_id,
         ('0x' || substr(md5('qc|' || ng), 1, 13))::BIGINT % 2048
           AS bucket,
         count(*) AS c
  FROM ng GROUP BY 1, 2
),
s AS (
  SELECT doc_id,
         CAST(SUM(c * ((bucket * 2654435761) % 2001 - 1000)) + 37
              AS BIGINT) AS score_u
  FROM bk GROUP BY doc_id)
SELECT doc_id, score_u, score_u > 0 AS keep FROM s
"""


def _q_hybrid_rrf(spark, sf_dir):
    # Hybrid retrieval: BM25 text ranks + exact-cosine embedding ranks
    # fused by reciprocal rank (1/(60+rank) each side, fixed two-term
    # sum -> bit-exact doubles cross-engine; both inputs top-20
    # bounded so the fusion join is constant-size).
    from lib_gdal_spark.operators import relevance

    d = _tbl(spark, sf_dir, "documents")
    e = _tbl(spark, sf_dir, "embeddings")
    out = relevance.hybrid_rrf(d, e, _BM25_TERMS, query_vec_id=0,
                               k_each=20, k_rrf=60, k=10)
    return out.select(
        "doc_id", "rrf",
        F.col("rank_text").cast("long").alias("rank_text"),
        F.col("rank_vec").cast("long").alias("rank_vec"), "rank")


def _o_hybrid_rrf() -> str:
    from lib_gdal_spark.operators.relevance import B, K1, K1P1, ONE_MINUS_B
    in_list = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    slots = "\n      + ".join(
        f"COALESCE(MAX(CASE WHEN tok = '{t}' THEN c END), 0.0)"
        for t in _BM25_TERMS)
    return f"""
WITH base AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+')
                       AS t FROM documents),
d AS (SELECT doc_id, len(t) AS dl FROM base),
tok AS (SELECT doc_id, dl, unnest(t) AS tok
        FROM (SELECT doc_id, len(t) AS dl, t FROM base)),
tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf FROM tok
       WHERE tok IN ({in_list}) GROUP BY ALL),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_dl FROM d),
dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
c AS (SELECT tf.doc_id, tf.tok,
        ln(1.0 + ((n_docs - df) + 0.5) / (df + 0.5))
        * (tf * {K1P1!r}) / (tf + {K1!r} * ({ONE_MINUS_B!r}
          + {B!r} * (dl / (CAST(tot_dl AS DOUBLE) / n_docs)))) AS c
      FROM tf JOIN dfq ON tf.tok = dfq.tok CROSS JOIN stats),
per_doc AS (SELECT doc_id, ROUND({slots}, 6) AS score
            FROM c GROUP BY doc_id),
txt AS (SELECT doc_id AS tid,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rt
        FROM per_doc ORDER BY score DESC, doc_id LIMIT 20),
cn AS (SELECT vec_id, embedding AS e,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
       FROM embeddings),
qn AS (SELECT e AS qe, nrm AS qnrm FROM cn WHERE vec_id = 0),
jv AS (SELECT cn.vec_id,
         list_sum(list_transform(generate_series(1, len(cn.e)),
           i -> (CAST(cn.e[i] AS DOUBLE)/cn.nrm)
              * (CAST(qn.qe[i] AS DOUBLE)/qn.qnrm))) AS cos
       FROM cn, qn),
vec AS (SELECT vec_id AS vid,
               ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rv
        FROM jv ORDER BY cos DESC, vec_id LIMIT 20),
fused AS (
  SELECT COALESCE(tid, vid) AS doc_id,
         COALESCE(1.0 / (60 + rt), 0.0)
           + COALESCE(1.0 / (60 + rv), 0.0) AS rrf,
         CAST(rt AS BIGINT) AS rank_text, CAST(rv AS BIGINT) AS rank_vec
  FROM txt FULL OUTER JOIN vec ON tid = vid)
SELECT doc_id, rrf, rank_text, rank_vec,
       ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank
FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
"""


def _q_ogr_special_fields(spark, sf_dir):
    # OGR SQL's special fields (ogr_p.h:172-179): build mixed
    # POINT/POLYGON WKB from part keys (WKT text in pure Column math ->
    # st_geomfromtext), materialize FID / OGR_GEOMETRY /
    # OGR_GEOM_AREA via ogrsql.with_special_fields, and run the
    # reference-shaped statement SELECT FID, OGR_GEOMETRY,
    # OGR_GEOM_AREA ... WHERE OGR_GEOMETRY IN (...). Integer rectangle
    # corners make every shoelace area an exact integer, and points
    # take OGR_G_Area's 0.0 rule.
    from lib_gdal_spark import functions as fns

    fns.register_all(spark)
    p = _tbl(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("fid"),
        (F.col("p_partkey") % 50).alias("x1"),
        (F.col("p_partkey") * 7 % 40).alias("y1"),
        (F.col("p_partkey") % 9 + 1).alias("w"),
        (F.col("p_partkey") * 3 % 7 + 1).alias("h"))
    wkt = F.when(
        F.col("fid") % 5 == 0,
        F.format_string("POINT (%d %d)", F.col("x1"), F.col("y1"))
    ).otherwise(F.format_string(
        "POLYGON ((%d %d,%d %d,%d %d,%d %d,%d %d))",
        F.col("x1"), F.col("y1"),
        F.col("x1") + F.col("w"), F.col("y1"),
        F.col("x1") + F.col("w"), F.col("y1") + F.col("h"),
        F.col("x1"), F.col("y1") + F.col("h"),
        F.col("x1"), F.col("y1")))
    geoms = p.withColumn("wkt_str", wkt).select(
        "fid", F.expr("st_geomfromtext(wkt_str)").alias("wkb"))
    sp = ogrsql.with_special_fields(geoms)
    return sp.filter(F.col("OGR_GEOMETRY").isin("POINT", "POLYGON")) \
        .select("FID", "OGR_GEOMETRY",
                F.col("OGR_GEOM_AREA").cast("long").alias("area"))


def _o_ogr_special_fields() -> str:
    return """
SELECT CAST(p_partkey AS BIGINT) AS FID,
       CASE WHEN p_partkey % 5 = 0 THEN 'POINT' ELSE 'POLYGON' END
         AS OGR_GEOMETRY,
       CAST(CASE WHEN p_partkey % 5 = 0 THEN 0
            ELSE (p_partkey % 9 + 1) * (p_partkey * 3 % 7 + 1) END
            AS BIGINT) AS area
FROM part
"""


def _q_pmtiles_roundtrip(spark, sf_dir):
    # PMTiles v3 source+sink with the Hilbert addressing IN the loop:
    # z=7 page-count tiles pack into a real .pmtiles (hilbert-sorted
    # clustered layout, varint directories, gzip internals), read back
    # through the directory + range-read path, counts decoded from the
    # blobs. A wrong Hilbert curve, a broken varint, or a bad
    # offset-0 delta all scramble (x, y, n) and can never hash-match
    # the relational tile-count oracle.
    import os
    import tempfile

    from lib_gdal_spark.sources import pmtiles as pm

    p = sjoin.with_tile(_pages(spark, sf_dir), zoom=7)
    base = p.groupBy(F.col("tile_x").alias("x"),
                     F.col("tile_y").alias("y")).agg(
        F.count("*").alias("n"))
    t = base.select(
        F.lit(7).cast("int").alias("z"), "x", "y",
        F.unhex(F.lpad(F.hex(F.col("n")), 16, "0")).alias("data"))
    path = os.path.join(tempfile.mkdtemp(prefix="pmt_rt_"), "rt.pmtiles")
    pm.write_pmtiles(t, path, tile_type="bin", metadata={"name": "pages"})
    back = pm.read_pmtiles(spark, path)
    return back.select(
        "x", "y", F.conv(F.hex("data"), 16, 10).cast("long").alias("n"))


def _o_pmtiles_roundtrip() -> str:
    return f"""
WITH {_PAGES_CTE}
SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT {_dd_tile_x('lon', 7)} AS x, {_dd_tile_y('lat', 7)} AS y FROM pages)
GROUP BY x, y
"""


def _q_unimax_alloc(spark, sf_dir):
    # UniMax language sampling (Chung et al. 2023): water-fill a 40%
    # budget across languages, 3-epoch cap. The sequential fold runs
    # over the bounded language dim; the oracle replays it as a
    # recursive CTE with the IDENTICAL float op order (one division +
    # one min + one subtraction per language), so allocs hash bit-exact.
    from lib_gdal_spark.operators import sampling

    d = _tbl(spark, sf_dir, "documents")
    return sampling.unimax_allocation(
        d, "lang", "n_chars", budget_frac=0.4, epochs_cap=3.0)


def _o_unimax_alloc() -> str:
    return """
WITH RECURSIVE sizes AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY lang),
ord AS (
  SELECT lang, n_docs, chars,
         CAST(ROW_NUMBER() OVER (ORDER BY chars, lang) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_groups,
         CAST(SUM(chars) OVER () AS DOUBLE) * 0.4 AS budget
  FROM sizes),
rec AS (
  SELECT CAST(0 AS BIGINT) AS rn,
         (SELECT CAST(any_value(budget) AS DOUBLE) FROM ord) AS remaining,
         CAST(0.0 AS DOUBLE) AS alloc,
         CAST(NULL AS VARCHAR) AS lang,
         CAST(0 AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS chars
  UNION ALL
  SELECT o.rn,
         r.remaining
           - LEAST(3.0 * o.chars, r.remaining / (o.n_groups - o.rn + 1)),
         LEAST(3.0 * o.chars, r.remaining / (o.n_groups - o.rn + 1)),
         o.lang, o.n_docs, o.chars
  FROM rec r JOIN ord o ON o.rn = r.rn + 1)
SELECT lang, n_docs, chars, alloc FROM rec WHERE rn > 0
"""


def _q_tile_geodetic(spark, sf_dir):
    # gdal2tiles' SECOND profile: Plate Carree geodetic tiles
    # (GlobalGeodetic, gdal2tiles.py:534-640), tmscompatible matrix
    # (2^(z+1) x 2^z at z), XYZ-flipped rows like every tile op here.
    # res = (180/256)/2^6 is an exact dyadic double, so Column and SQL
    # agree to the last ulp with one addition + two divisions + ceil.
    from lib_gdal_spark.geo import geodetic_profile as gp

    p = _pages(spark, sf_dir)
    t = p.select(
        "doc_id",
        gp.geodetic_tile_x_col(F.col("lon"), 6).alias("x"),
        gp.geodetic_tile_y_col(F.col("lat"), 6).alias("y"))
    return t.groupBy("x", "y").agg(F.count("*").alias("n"))


def _o_tile_geodetic() -> str:
    res = repr((180.0 / 256) / 2 ** 6)
    return f"""
WITH {_PAGES_CTE}
SELECT x, CAST(63 - ty AS BIGINT) AS y, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT CAST(CEIL(((180.0 + lon) / {res}) / 256.0) AS BIGINT) - 1 AS x,
         CAST(CEIL(((90.0 + lat) / {res}) / 256.0) AS BIGINT) - 1 AS ty
  FROM pages)
GROUP BY x, ty
"""


def _q_vrt_mosaic(spark, sf_dir):
    # VRT composition with the XML plan IN the loop: synthesize two
    # integer grids from documents, write them as real TIFFs, compose a
    # VRTDataset (SimpleSource mosaic + ComplexSource scale/NODATA +
    # 2x AveragedSource decimation), and read it back through read_vrt.
    # The oracle recomputes the composition relationally (paint-over =
    # arg_max over source index, averaged = windowed mean with the
    # floor(v+0.5) Byte rule), so a green hash row certifies the XML
    # parse, the window remap, paint-over order, the ComplexSource
    # value map, and the AveragedSource center-rule mean end to end.
    # All values are small integers -> every fold is exact.
    import os
    import tempfile

    from lib_gdal_spark.sources import vrt as vrtmod
    from lib_gdal_spark.sources.tiff import write_tiff

    d = _tbl(spark, sf_dir, "documents")
    base = d.select((F.col("doc_id") % 24).alias("bx"),
                    (F.expr("doc_id div 24") % 16).alias("by"), "n_chars")
    ga = base.groupBy("bx", "by").agg(
        (F.min("n_chars") % 200).cast("double").alias("value"))
    gb = base.groupBy("bx", "by").agg(
        ((F.max("n_chars") * 31 + 17) % 97).cast("double").alias("value"))
    tmp = tempfile.mkdtemp(prefix="vrt_mz_")
    write_tiff(ga, os.path.join(tmp, "a.tif"), 24, 16)
    write_tiff(gb, os.path.join(tmp, "b.tif"), 24, 16)
    xml = """<VRTDataset rasterXSize="36" rasterYSize="24">
  <VRTRasterBand dataType="Byte" band="1">
    <SimpleSource>
      <SourceFilename relativeToVRT="1">a.tif</SourceFilename>
      <SourceBand>1</SourceBand>
      <SrcRect xOff="0" yOff="0" xSize="24" ySize="16"/>
      <DstRect xOff="0" yOff="0" xSize="24" ySize="16"/>
    </SimpleSource>
    <ComplexSource>
      <SourceFilename relativeToVRT="1">b.tif</SourceFilename>
      <SourceBand>1</SourceBand>
      <SrcRect xOff="0" yOff="0" xSize="24" ySize="16"/>
      <DstRect xOff="8" yOff="0" xSize="24" ySize="16"/>
      <ScaleRatio>2</ScaleRatio>
      <ScaleOffset>3</ScaleOffset>
      <NODATA>13</NODATA>
    </ComplexSource>
    <AveragedSource>
      <SourceFilename relativeToVRT="1">a.tif</SourceFilename>
      <SourceBand>1</SourceBand>
      <SrcRect xOff="0" yOff="0" xSize="24" ySize="16"/>
      <DstRect xOff="24" yOff="16" xSize="12" ySize="8"/>
    </AveragedSource>
  </VRTRasterBand>
</VRTDataset>"""
    path = os.path.join(tmp, "m.vrt")
    with open(path, "w") as f:
        f.write(xml)
    cells, _meta = vrtmod.read_vrt(spark, path)
    return cells.select(
        "bx", "by", F.col("value").cast("long").alias("value"))


def _o_vrt_mosaic() -> str:
    # canvas coords: a SimpleSource at dst(0,0) lands (x, 8+y); b at
    # dst(8,0) lands (x+8, 8+y); the 2x averaged copy of a lands
    # (24 + x//2, y//2) with a 4-pixel mean
    return """
WITH d AS (SELECT CAST(doc_id % 24 AS BIGINT) AS x,
                  CAST(doc_id // 24 % 16 AS BIGINT) AS y, n_chars
           FROM documents),
a AS (SELECT x, y, CAST(min(n_chars) % 200 AS BIGINT) AS v
      FROM d GROUP BY 1, 2),
b AS (SELECT x, y, CAST((max(n_chars) * 31 + 17) % 97 AS BIGINT) AS v
      FROM d GROUP BY 1, 2),
u AS (
  SELECT x AS cx, y + 8 AS cy, CAST(v AS DOUBLE) AS v, 0 AS i FROM a
  UNION ALL
  SELECT x + 8, y + 8, CAST(2 * v + 3 AS DOUBLE), 1 FROM b WHERE v <> 13
  UNION ALL
  SELECT 24 + x // 2, y // 2,
         FLOOR(SUM(CAST(v AS DOUBLE)) / COUNT(*) + 0.5), 2
  FROM a GROUP BY 1, 2)
SELECT cx AS bx, cy AS by, CAST(arg_max(v, i) AS BIGINT) AS value
FROM u GROUP BY cx, cy
"""


def _q_mdim_arith(spark, sf_dir):
    # MDArray remainder closed: GetUnscaled (gdalmultidim.cpp:6672 —
    # value*scale + offset, nodata -> absent) + element-wise array
    # arithmetic (one dim-column equi-join), then a sum-reduce. Scale is
    # DYADIC (0.125) and inputs are small integers, so every fold is
    # exact regardless of partitioning.
    d = _tbl(spark, sf_dir, "documents")
    base = d.select((F.col("doc_id") % 24).alias("x"),
                    (F.expr("doc_id div 24") % 16).alias("y"), "n_chars")
    g1 = base.groupBy("y", "x").agg(
        (F.min("n_chars") % 200).cast("double").alias("value"))
    g2 = base.groupBy("y", "x").agg(
        (F.max("n_chars") % 151).cast("double").alias("value"))
    a = mdim.MDArray.from_long(g1, ["y", "x"]).unscaled(
        0.125, 100.0, src_nodata=7.0)
    b = mdim.MDArray.from_long(g2, ["y", "x"])
    out = a.combine(b, "mul").reduce("x", how="sum")
    return out.df.select("y", "value")


def _o_mdim_arith() -> str:
    return """
WITH d AS (SELECT CAST(doc_id % 24 AS BIGINT) AS x,
                  CAST(doc_id // 24 % 16 AS BIGINT) AS y, n_chars
           FROM documents),
g1 AS (SELECT y, x, CAST(min(n_chars) % 200 AS DOUBLE) AS v1
       FROM d GROUP BY 1, 2),
g2 AS (SELECT y, x, CAST(max(n_chars) % 151 AS DOUBLE) AS v2
       FROM d GROUP BY 1, 2),
u AS (SELECT y, x, v1 * 0.125 + 100.0 AS v1u FROM g1 WHERE v1 <> 7.0)
SELECT u.y AS y, SUM(u.v1u * g2.v2) AS value
FROM u JOIN g2 ON u.y = g2.y AND u.x = g2.x
GROUP BY u.y
"""


def _q_proj_conic(spark, sf_dir):
    # Arbitrary-CRS transform surface beyond Mercator/UTM (VERDICT r3
    # missing item 2): LCC 2SP (EPSG 9802), Albers 2SP (EPSG 9822) and
    # Polar Stereographic A (EPSG 9810) forward-projected over synthetic
    # prime-denominator lon/lat. Each projection is ONE Arrow pandas UDF
    # (broadcast-constant transform, no shuffle). Outputs are
    # earth-radius-normalized scaled-floor micro-units so cross-engine
    # transcendental ulp drift sits ~100x below the rounding grid.
    from lib_gdal_spark.geo import conic

    lcc = conic.LambertConformalConic(33.0, 45.0, 39.0, -96.0)
    aea = conic.AlbersEqualArea(29.5, 45.5, 23.0, -96.0)
    pst = conic.PolarStereographic(0.994, 0.0, True)
    d = _tbl(spark, sf_dir, "documents").select(F.col("doc_id").alias("gid"))
    pts = d.select(
        "gid",
        (F.lit(-120.0) + ((F.col("gid") * 13 + 7) % 991).cast("double")
         * F.lit(60.0 / 991.0)).alias("lon"),
        (F.lit(20.0) + ((F.col("gid") * 11 + 1) % 997).cast("double")
         * F.lit(40.0 / 997.0)).alias("lat"),
        (F.lit(55.0) + ((F.col("gid") * 11 + 1) % 997).cast("double")
         * F.lit(34.0 / 997.0)).alias("lat_ps"),
    )
    out = lcc.transform_df(pts, "lon", "lat", out_cols=("lcc_x", "lcc_y"))
    out = aea.transform_df(out, "lon", "lat", out_cols=("aea_x", "aea_y"))
    out = pst.transform_df(out, "lon", "lat_ps", out_cols=("ps_x", "ps_y"))
    A = 6378137.0

    def um(c):
        return F.floor(F.col(c) / F.lit(A) * F.lit(1e6) + F.lit(0.5))

    return out.select(
        "gid", um("lcc_x").alias("lcc_x"), um("lcc_y").alias("lcc_y"),
        um("aea_x").alias("aea_x"), um("aea_y").alias("aea_y"),
        um("ps_x").alias("ps_x"), um("ps_y").alias("ps_y"))


def _o_proj_conic() -> str:
    import math

    from lib_gdal_spark.geo import conic

    lcc = conic.LambertConformalConic(33.0, 45.0, 39.0, -96.0)
    aea = conic.AlbersEqualArea(29.5, 45.5, 23.0, -96.0)
    pst = conic.PolarStereographic(0.994, 0.0, True)

    def dl(x):
        return f"{float(x):.17e}"

    e = float(lcc.e)
    consts = {
        "D2R": dl(math.pi / 180.0),
        "PI4": dl(math.pi / 4.0),
        "E": dl(e),
        "EHALF": dl(e / 2.0),
        "LON0": dl(float(lcc.lon0)),
        "LCC_N": dl(float(lcc.n)),
        "LCC_AF": dl(float(lcc.a * lcc.F)),
        "LCC_RHO0": dl(float(lcc.rho0)),
        "OME2": dl(1.0 - e * e),
        "INV2E": dl(1.0 / (2.0 * e)),
        "AEA_N": dl(float(aea.n)),
        "AEA_C": dl(float(aea.C)),
        "AEA_A": dl(float(aea.a)),
        "AEA_RHO0": dl(float(aea.rho0)),
        "PS_C": dl(float(pst._c)),
        "A": "6378137.0",
        "QLON": dl(60.0 / 991.0),
        "QLAT": dl(40.0 / 997.0),
        "QPS": dl(34.0 / 997.0),
    }
    # t(phi) (Snyder 15-9) and q(phi) (Snyder 3-12), op order mirroring
    # geo/conic.py exactly
    t_expr = ("tan({PI4} - {phi}/2) / "
              "pow((1 - {E}*sin({phi}))/(1 + {E}*sin({phi})), {EHALF})")
    q_expr = ("{OME2} * (sin({phi})/(1 - ({E}*sin({phi}))*({E}*sin({phi})))"
              " - {INV2E} * ln((1 - {E}*sin({phi}))/(1 + {E}*sin({phi}))))")
    sql = """
WITH pts AS (
  SELECT doc_id AS gid,
         -120.0 + CAST((doc_id*13+7) % 991 AS DOUBLE) * {QLON} AS lon,
         20.0 + CAST((doc_id*11+1) % 997 AS DOUBLE) * {QLAT} AS lat,
         55.0 + CAST((doc_id*11+1) % 997 AS DOUBLE) * {QPS} AS lat_ps
  FROM documents),
rad AS (
  SELECT gid, lon*{D2R} - {LON0} AS lam, lat*{D2R} AS phi,
         lon*{D2R} AS lam_ps, lat_ps*{D2R} AS phi_ps
  FROM pts),
tq AS (
  SELECT gid, lam, lam_ps,
         TPHI AS t, QPHI AS q, TPS AS t_ps
  FROM rad),
prj AS (
  SELECT gid,
    {LCC_AF} * pow(t, {LCC_N}) * sin({LCC_N}*lam) AS lcc_x,
    {LCC_RHO0} - {LCC_AF} * pow(t, {LCC_N}) * cos({LCC_N}*lam) AS lcc_y,
    {AEA_A} * sqrt({AEA_C} - {AEA_N}*q) / {AEA_N} * sin({AEA_N}*lam)
      AS aea_x,
    {AEA_RHO0} - {AEA_A} * sqrt({AEA_C} - {AEA_N}*q) / {AEA_N}
      * cos({AEA_N}*lam) AS aea_y,
    2000000.0 + {PS_C} * t_ps * sin(lam_ps) AS ps_x,
    2000000.0 - {PS_C} * t_ps * cos(lam_ps) AS ps_y
  FROM tq)
SELECT gid,
  CAST(FLOOR(lcc_x/{A}*1e6 + 0.5) AS BIGINT) AS lcc_x,
  CAST(FLOOR(lcc_y/{A}*1e6 + 0.5) AS BIGINT) AS lcc_y,
  CAST(FLOOR(aea_x/{A}*1e6 + 0.5) AS BIGINT) AS aea_x,
  CAST(FLOOR(aea_y/{A}*1e6 + 0.5) AS BIGINT) AS aea_y,
  CAST(FLOOR(ps_x/{A}*1e6 + 0.5) AS BIGINT) AS ps_x,
  CAST(FLOOR(ps_y/{A}*1e6 + 0.5) AS BIGINT) AS ps_y
FROM prj
"""
    sql = (sql
           .replace("TPHI", t_expr.format(phi="phi", **consts))
           .replace("QPHI", q_expr.format(phi="phi", **consts))
           .replace("TPS", t_expr.format(phi="phi_ps", **consts)))
    return sql.format(**consts)


def _q_proj_datum(spark, sf_dir):
    # Helmert +towgs84 datum shifts (VERDICT r4 missing item 1 /
    # next-round item 3): 7-parameter OSGB36 (position-vector, EPSG
    # 1033) and 3-parameter ED50 hops to WGS84 through the geocentric
    # pipeline (ogr/ogrct.cpp:1027; 2D push/pop-v_3 convention). Each
    # hop is ONE Arrow pandas UDF (broadcast-constant transform, no
    # shuffle). Outputs are scaled-floor 1e-7-degree units (~1 cm):
    # transcendental ulp drift sits ~1e5 below the grid, and the
    # prime-denominator synth keeps results off rounding half-edges.
    from lib_gdal_spark.geo import proj

    osgb = proj.transform(
        "+proj=longlat +ellps=airy "
        "+towgs84=446.448,-125.157,542.06,0.15,0.247,0.842,-20.489",
        "+proj=longlat +datum=WGS84")
    ed50 = proj.transform("+proj=longlat +ellps=intl +towgs84=-87,-96,-120",
                          "+proj=longlat +datum=WGS84")
    d = _tbl(spark, sf_dir, "documents").select(F.col("doc_id").alias("gid"))
    pts = d.select(
        "gid",
        (F.lit(-5.0) + ((F.col("gid") * 13 + 7) % 991).cast("double")
         * F.lit(6.0 / 991.0)).alias("lon"),
        (F.lit(50.0) + ((F.col("gid") * 11 + 1) % 997).cast("double")
         * F.lit(8.0 / 997.0)).alias("lat"),
    )
    out = osgb.transform_df(pts, "lon", "lat",
                            out_cols=("osgb_lon", "osgb_lat"))
    out = ed50.transform_df(out, "lon", "lat",
                            out_cols=("ed50_lon", "ed50_lat"))

    def um(c):
        return F.floor(F.col(c) * F.lit(1e7) + F.lit(0.5))

    return out.select(
        "gid", um("osgb_lon").alias("osgb_lon"),
        um("osgb_lat").alias("osgb_lat"),
        um("ed50_lon").alias("ed50_lon"), um("ed50_lat").alias("ed50_lat"))


def _o_proj_datum() -> str:
    # duckdb twin of geo/datum.py with IDENTICAL op order: geodetic ->
    # geocentric -> 12-coefficient Helmert affine (coefficients injected
    # from helmert_coeffs, e-notation doubles) -> unrolled
    # GEODETIC_ITERS-round fixed-point latitude recovery on WGS84.
    import math

    from lib_gdal_spark.geo import datum as D

    def dl(x):
        return f"{float(x):.17e}"

    legs = {
        "osgb": ((6377563.396, 1.0 / 299.3249646),
                 (446.448, -125.157, 542.06, 0.15, 0.247, 0.842, -20.489)),
        "ed50": ((6378388.0, 1.0 / 297.0),
                 (-87.0, -96.0, -120.0, 0.0, 0.0, 0.0, 0.0)),
    }
    f_w = 1.0 / 298.257223563
    e2w = f_w * (2.0 - f_w)
    AW, E2W, OME2W = dl(6378137.0), dl(e2w), dl(1.0 - e2w)
    R2D = dl(180.0 / math.pi)

    ctes = ["""pts AS (
  SELECT doc_id AS gid,
         -5.0 + CAST((doc_id*13+7) % 991 AS DOUBLE) * {QLON} AS lon,
         50.0 + CAST((doc_id*11+1) % 997 AS DOUBLE) * {QLAT} AS lat
  FROM documents),
trig AS (
  SELECT gid, sin(lat*{D2R}) AS s, cos(lat*{D2R}) AS cphi,
         sin(lon*{D2R}) AS slam, cos(lon*{D2R}) AS clam
  FROM pts)""".format(QLON=dl(6.0 / 991.0), QLAT=dl(8.0 / 997.0),
                      D2R=dl(math.pi / 180.0))]
    outs = []
    for n, ((a, f), tw) in legs.items():
        e2 = f * (2.0 - f)
        c = [dl(v) for v in D.helmert_coeffs(tw)]
        ctes.append(f"""{n}_xyz AS (
  SELECT gid,
    ({dl(a)}/sqrt(1.0 - {dl(e2)}*s*s))*cphi*clam AS X,
    ({dl(a)}/sqrt(1.0 - {dl(e2)}*s*s))*cphi*slam AS Y,
    ({dl(a)}/sqrt(1.0 - {dl(e2)}*s*s))*{dl(1.0 - e2)}*s AS Z
  FROM trig),
{n}_h AS (
  SELECT gid,
    {c[9]} + ({c[0]}*X + {c[1]}*Y + {c[2]}*Z) AS X,
    {c[10]} + ({c[3]}*X + {c[4]}*Y + {c[5]}*Z) AS Y,
    {c[11]} + ({c[6]}*X + {c[7]}*Y + {c[8]}*Z) AS Z
  FROM {n}_xyz),
{n}_i0 AS (
  SELECT gid, atan2(Y, X) AS lam, sqrt(X*X + Y*Y) AS p, Z,
         atan2(Z, sqrt(X*X + Y*Y)*{OME2W}) AS phi
  FROM {n}_h)""")
        for k in range(1, D.GEODETIC_ITERS + 1):
            ctes.append(f"""{n}_i{k} AS (
  SELECT gid, lam, p, Z,
    atan2(Z + {E2W}*({AW}/sqrt(1.0 - {E2W}*sin(phi)*sin(phi)))*sin(phi),
          p) AS phi
  FROM {n}_i{k - 1})""")
        outs.append(f"{n}_i{D.GEODETIC_ITERS}")
    o, e = outs
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT o.gid AS gid,
  CAST(FLOOR(o.lam*{R2D}*1e7 + 0.5) AS BIGINT) AS osgb_lon,
  CAST(FLOOR(o.phi*{R2D}*1e7 + 0.5) AS BIGINT) AS osgb_lat,
  CAST(FLOOR(e.lam*{R2D}*1e7 + 0.5) AS BIGINT) AS ed50_lon,
  CAST(FLOOR(e.phi*{R2D}*1e7 + 0.5) AS BIGINT) AS ed50_lat
FROM {o} o JOIN {e} e USING (gid)
""")


_RAT_ROWS = ([(r, r * 30, r * 30 + 24, f"c{r}") for r in range(8)]
             + [(8, 0, 239, "rest")])


def _q_rat_classify(spark, sf_dir):
    # Raster-attribute-table classify (gcore/gdal_rat.cpp GetRowOfValue
    # first-match scan; operators/rat.py): 8 disjoint min/max classes
    # plus a catch-all last row (values in the 25..29-style gaps land
    # there — first record-order match wins). The scan compiles to one
    # Catalyst CASE chain + broadcast payload join; pixels never leave
    # the JVM. Aggregates per class name.
    from lib_gdal_spark.operators import rat as ratmod

    rdf = spark.createDataFrame(
        _RAT_ROWS, "_row long, vmin long, vmax long, name string")
    rat = ratmod.RasterAttributeTable(
        rdf, {"vmin": "min", "vmax": "max", "name": "name"})
    d = _tbl(spark, sf_dir, "documents")
    px = d.select(((F.col("doc_id") * 13 + F.col("n_chars")) % 240)
                  .cast("long").alias("value"))
    out = ratmod.classify(px, rat, "value")
    return out.groupBy("name").agg(
        F.count(F.lit(1)).cast("long").alias("n_pix"),
        F.sum("value").cast("long").alias("sum_val"))


def _o_rat_classify() -> str:
    whens = "\n".join(
        f"  WHEN v >= {lo} AND v <= {hi} THEN '{nm}'"
        for _r, lo, hi, nm in _RAT_ROWS)
    return f"""
WITH px AS (
  SELECT CAST((doc_id*13 + n_chars) % 240 AS BIGINT) AS v
  FROM documents),
cls AS (
  SELECT v, CASE
{whens}
  END AS name
  FROM px)
SELECT name, CAST(count(*) AS BIGINT) AS n_pix,
       CAST(SUM(v) AS BIGINT) AS sum_val
FROM cls GROUP BY name
"""


def _q_coverage_gaps(spark, sf_dir):
    # clean-coverage gap merging (maximum-gap-width,
    # gdalalg_vector_clean_coverage.cpp / GEOS CoverageCleaner;
    # operators/coverage.py _merge_gaps): a 10-wide cell grid where
    # hashed cells carry a right-edge notch — narrow notches (0.25/0.5
    # < gap width 1.0) merge back into the longest-border neighbor (the
    # notched cell, border 6+2s vs 6), wide ones (2.0/3.0) stay open.
    # Dyadic coordinates keep every area an exact double.
    from lib_gdal_spark.operators import coverage as cov

    d = _tbl(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id") % 10
    j = F.expr("doc_id div 10")
    k = (i * 3 + j * 7) % 11
    par = ((i + j) % 2).cast("double")
    s = (F.when((k == 0) & (i < 9), F.lit(0.25) + F.lit(0.25) * par)
         .when((k == 1) & (i < 9), F.lit(2.0) + par)
         .otherwise(F.lit(0.0)))
    x0 = i.cast("double") * 10.0
    y0 = j.cast("double") * 10.0
    x1, y1 = x0 + 10.0, y0 + 10.0
    polys = d.select(
        F.col("doc_id").alias("poly_id"),
        F.array(x0, x1, x1, x1 - s, x1 - s, x1, x1, x0, x0).alias("xs"),
        F.array(y0, y0, y0 + 2.0, y0 + 2.0, y0 + 8.0, y0 + 8.0,
                y1, y1, y0).alias("ys"))
    out = cov.clean_coverage(polys, cell_size=10.0, max_gap_width=1.0)
    return out.select("poly_id", "area", "n_parts")


def _q_coverage_check_gaps(spark, sf_dir):
    # check-coverage maximum-gap-width (gdalalg_vector_check_coverage
    # .cpp:41 -> GEOSCoverageIsValid_r gapWidth; operators/coverage.py
    # gap_edges): isolated vertex-matched pairs enclosing an (s x 6)
    # slot — A carries a right-edge notch of depth s, B's left edge is
    # split at the notch corners. Narrow slots (s = 0.25/0.5 < 1.0) flag
    # A's three notch segments + B's slot mouth; wide slots (2.0/3.0)
    # flag nothing. All coordinates dyadic -> exact doubles.
    from lib_gdal_spark.operators import coverage as cov

    d = _tbl(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1))).alias("side"))
    i = F.col("doc_id") % 20
    j = F.expr("doc_id div 20")
    k = (i * 3 + j * 7) % 11
    par = ((i + j) % 2).cast("double")
    s = (F.when(k < 6, F.lit(0.25) + F.lit(0.25) * par)
         .otherwise(F.lit(2.0) + par))
    ox = i.cast("double") * 30.0
    oy = j.cast("double") * 30.0
    a_xs = F.array(ox, ox + 10.0, ox + 10.0, ox + 10.0 - s,
                   ox + 10.0 - s, ox + 10.0, ox + 10.0, ox, ox)
    a_ys = F.array(oy, oy, oy + 2.0, oy + 2.0, oy + 8.0, oy + 8.0,
                   oy + 10.0, oy + 10.0, oy)
    b_xs = F.array(ox + 10.0, ox + 20.0, ox + 20.0, ox + 10.0,
                   ox + 10.0, ox + 10.0, ox + 10.0)
    b_ys = F.array(oy, oy, oy + 10.0, oy + 10.0, oy + 8.0, oy + 2.0, oy)
    polys = d.select(
        (F.col("doc_id") * 2 + F.col("side")).alias("poly_id"),
        F.when(F.col("side") == 0, a_xs).otherwise(b_xs).alias("xs"),
        F.when(F.col("side") == 0, a_ys).otherwise(b_ys).alias("ys"))
    return cov.check_coverage(polys, cell_size=10.0, max_gap_width=1.0)


def _o_coverage_check_gaps() -> str:
    return """
WITH g AS (
  SELECT doc_id,
         CAST(doc_id % 20 AS BIGINT) AS i,
         CAST(doc_id // 20 AS BIGINT) AS j
  FROM documents),
e AS (
  SELECT doc_id, (i*3 + j*7) % 11 AS k,
         CAST((i+j) % 2 AS DOUBLE) AS par
  FROM g),
sides AS (
  SELECT doc_id, k, par, side
  FROM e, (SELECT unnest([0, 1]) AS side))
SELECT CAST(2*doc_id + side AS BIGINT) AS poly_id,
  CAST(CASE WHEN k < 6 THEN CASE WHEN side = 0 THEN 3 ELSE 1 END
       ELSE 0 END AS BIGINT) AS n_invalid,
  CASE WHEN k < 6
       THEN CASE WHEN side = 0 THEN 6.0 + 2.0*(0.25 + 0.25*par)
            ELSE 6.0 END
       ELSE 0.0 END AS invalid_len
FROM sides
"""


def _o_coverage_gaps() -> str:
    return """
WITH g AS (
  SELECT doc_id,
         CAST(doc_id % 10 AS BIGINT) AS i,
         CAST(doc_id // 10 AS BIGINT) AS j
  FROM documents)
SELECT doc_id AS poly_id,
  CASE WHEN i < 9 AND (i*3 + j*7) % 11 = 1
       THEN 100.0 - 6.0*(2.0 + CAST((i+j) % 2 AS DOUBLE))
       ELSE 100.0 END AS area,
  CAST(1 AS INTEGER) AS n_parts
FROM g
"""


def _q_nearblack_collar(spark, sf_dir):
    # nearblack twopasses collar removal (apps/nearblack_lib.cpp;
    # operators/nearblack.py) over a synthetic ragged-border grid:
    # hash-width black margins on all four sides plus interior
    # near-black speckles. max_non_black=0 (the lib_1 autotest config).
    # Engine side runs the real two-pass operator (two windows + two
    # per-line Arrow kernels); the oracle replays the same semantics as
    # closed-form window SQL — see _o_nearblack_collar.
    from lib_gdal_spark.operators import nearblack as nbk

    W = 25
    d = _tbl(spark, sf_dir, "documents").select("doc_id")
    H = d.count() // W
    did = F.col("doc_id")
    x = did % W
    y = F.expr("doc_id div 25")
    border = ((x < (y * 13 + 5) % 4) | (x >= W - (y * 11 + 2) % 4)
              | (y >= H - (x * 17 + 1) % 4) | (y < (x * 19 + 7) % 4))
    speck = ((did * 31 + 11) % 37) == 0
    v = (F.when(border, F.lit(0)).when(speck, F.lit(5))
         .otherwise(F.lit(20) + (did * 7) % 200)).cast("double")
    cells = d.select(x.cast("long").alias("bx"), y.cast("long").alias("by"),
                     F.array(v).alias("vals"))
    out = nbk.nearblack(cells, W, H, near_dist=15, max_non_black=0)
    return out.select("bx", "by",
                      F.col("vals")[0].cast("bigint").alias("value"),
                      F.col("mask").cast("bigint").alias("mask"))


def _o_nearblack_collar() -> str:
    # Closed form of nearblack_lib.cpp's twopasses under
    # max_non_black=0, all-integer math:
    # - nonblack pixels carry counter>=1, so the horizontal scans never
    #   replace them and nonblackness is PASS-INVARIANT;
    # - per-column counter before+through a line is least(cum,1);
    # - a directional scan's do_test state is last-event-wins: a cnt=0
    #   column re-arms, a nonblack column stops -> LAST_VALUE IGNORE
    #   NULLS window over the scan order (the loop never processes the
    #   final column of a scan: x<24 / x>0 guards);
    # - pass 2 re-runs the machinery with the bottom-up cumulative.
    def scan(p, order, guard, dtc, rc):
        return f"""{dtc} AS (
  SELECT *, COALESCE(LAST_VALUE(
      CASE WHEN cnt{p} = 0 THEN 1 WHEN nb = 1 THEN 0 END IGNORE NULLS)
    OVER (PARTITION BY y ORDER BY {order}
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 1) AS dt
  FROM {rc}),
{dtc}r AS (
  SELECT * EXCLUDE (dt),
         CASE WHEN dt = 1 AND nb = 0 AND {guard} THEN 1 ELSE 0 END
           AS repl_{dtc}
  FROM {dtc})"""

    passes = []
    for p, order_v in ((1, "y DESC"), (2, "y ASC")):
        src = "g" if p == 1 else "p1dtRr"
        passes.append(f"""p{p} AS (
  SELECT *, COALESCE(SUM(nb) OVER
      (PARTITION BY x ORDER BY {order_v}
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum{p}
  FROM {src}),
p{p}v AS (
  SELECT * EXCLUDE (cum{p}), LEAST(cum{p} + nb, 1) AS cnt{p},
         CASE WHEN cum{p} = 0 AND nb = 0 THEN 1 ELSE 0 END AS repl_v{p}
  FROM p{p}),
{scan(p, "x ASC", "x < 24", f"p{p}dtL", f"p{p}v")},
{scan(p, "x DESC", "x > 0", f"p{p}dtR", f"p{p}dtLr")}""")
    return ("""WITH dims AS (
  SELECT CAST(count(*) // 25 AS BIGINT) AS h FROM documents),
g AS (
  SELECT CAST(doc_id % 25 AS BIGINT) AS x,
         CAST(doc_id // 25 AS BIGINT) AS y,
         CASE WHEN (doc_id % 25) < ((doc_id // 25) * 13 + 5) % 4
                OR (doc_id % 25) >= 25 - ((doc_id // 25) * 11 + 2) % 4
                OR (doc_id // 25) >= h - ((doc_id % 25) * 17 + 1) % 4
                OR (doc_id // 25) < ((doc_id % 25) * 19 + 7) % 4
              THEN CAST(0 AS BIGINT)
              WHEN (doc_id * 31 + 11) % 37 = 0 THEN CAST(5 AS BIGINT)
              ELSE CAST(20 + (doc_id * 7) % 200 AS BIGINT) END AS v,
         CASE WHEN (doc_id % 25) < ((doc_id // 25) * 13 + 5) % 4
                OR (doc_id % 25) >= 25 - ((doc_id // 25) * 11 + 2) % 4
                OR (doc_id // 25) >= h - ((doc_id % 25) * 17 + 1) % 4
                OR (doc_id // 25) < ((doc_id % 25) * 19 + 7) % 4
              THEN 0
              WHEN (doc_id * 31 + 11) % 37 = 0 THEN 0
              ELSE 1 END AS nb
  FROM documents CROSS JOIN dims),
"""
            + ",\n".join(passes) + """
SELECT x AS bx, y AS by,
  CASE WHEN repl_v1 + repl_p1dtL + repl_p1dtR
          + repl_v2 + repl_p2dtL + repl_p2dtR > 0
       THEN CAST(0 AS BIGINT) ELSE v END AS value,
  CASE WHEN repl_v1 + repl_p1dtL + repl_p1dtR
          + repl_v2 + repl_p2dtL + repl_p2dtR > 0
       THEN CAST(0 AS BIGINT) ELSE CAST(255 AS BIGINT) END AS mask
FROM p2dtRr
""")


def _q_pansharpen(spark, sf_dir):
    # weighted-Brovey pansharpening (gdalpansharpen.h:40): pan + three
    # derived bands over the dense doc grid; DYADIC weights (0.25/0.5/
    # 0.25) keep every fold exact, so no rounding is needed
    d = _tbl(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 25).cast("long").alias("bx"),
        (F.floor(F.col("doc_id") / 25) % 20).cast("long").alias("by"),
        "doc_id", "n_chars",
    )
    pan = d.groupBy("bx", "by").agg(F.sum("n_chars").cast("double").alias("value"))
    r = d.groupBy("bx", "by").agg(F.count(F.lit(1)).cast("double").alias("value"))
    g = d.groupBy("bx", "by").agg(F.sum(F.col("doc_id") % 97).cast("double").alias("value"))
    b = d.groupBy("bx", "by").agg(F.min("n_chars").cast("double").alias("value"))
    out = raster.pansharpen(pan, {"r": r, "g": g, "b": b},
                            weights={"r": 0.25, "g": 0.5, "b": 0.25})
    return out.select("bx", "by", "r", "g", "b")


def _q_raster_checksum(spark, sf_dir):
    # GDALChecksumImage (alg/gdalchecksum.cpp:48) over the dense doc grid
    # window — the reference's own fixture-equality primitive
    return raster.checksum(_base_grid8(spark, sf_dir), 0, 0, 25, 20)


def _q_viewshed(spark, sf_dir):
    # gdal_viewshed (alg/viewshed.cpp): LOS visibility within 8 cells of
    # observer (12, 10) at eye height 2 over the dense char-sum DEM; the
    # distance term cancels from the angle test, so the comparison is
    # exact cross-engine arithmetic
    return vshed.viewshed(_base_grid8(spark, sf_dir), observer=(12, 10),
                          maxdist=8.0, observer_height=2.0)


def _q_translate_scale(spark, sf_dir):
    # gdal_translate -scale src_min src_max 0 65535 (UInt16 out): linear
    # stretch from the grid's own exact min/max; rational ratio/offset +
    # the floor(x+0.5) integer write -> engine-exact
    g = _base_grid8(spark, sf_dir)
    r = g.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).collect()[0]
    return raster.scale_linear(g, src_min=r.lo, src_max=r.hi,
                               dst_min=0.0, dst_max=65535.0)


def _q_raster_resize(spark, sf_dir):
    # gdal raster resize (RasterIO decimation rule, pinned by the
    # checksum-1192 byte.tif replay in tests): 25x20 -> 37x13 exercises
    # a non-integer upsample in x AND downsample in y in one pass
    return raster.resize(_base_grid8(spark, sf_dir), 25, 20, 37, 13)


def _o_raster_resize() -> str:
    rx, ry = 25 / 37, 20 / 13  # SAME python doubles the engine computes
    return f"""
WITH {_dd_base8_cte()},
dst AS (SELECT x.range AS ox, y.range AS orow
        FROM range(0, 37) x, range(0, 13) y),
m AS (SELECT ox, orow,
  LEAST(GREATEST(CAST(floor((ox + 0.5) * {rx!r} + 1e-10) AS BIGINT), 0),
        24) AS sx,
  LEAST(GREATEST(CAST(floor((orow + 0.5) * {ry!r} + 1e-10) AS BIGINT), 0),
        19) AS srow
  FROM dst)
SELECT m.ox AS bx, CAST(12 - m.orow AS BIGINT) AS "by", b.value
FROM m JOIN base b ON b.bx = m.sx AND b."by" = 19 - m.srow
"""


def _q_contour_polygon_bands(spark, sf_dir):
    # gdal_contour -p / POLYGONIZE=TRUE (autotest/alg/contour.py
    # test_contour_polygonize shape): 4 bands at data-derived quarter
    # levels (exact integer-valued min/max -> identical level doubles in
    # both engines); per band: region count (CC), cells, area, envelope
    g = _base_grid8(spark, sf_dir)
    r = g.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).collect()[0]
    step = (r.hi - r.lo) / 4.0
    levels = [r.lo, r.lo + step, r.lo + 2 * step, r.lo + 3 * step, r.hi]
    out = contour.contour_polygon_bands(g, levels)
    return out.select("band", "elev_min", "elev_max", "n_regions",
                      "n_cells", "area", "xmin", "ymin", "xmax", "ymax")


def _q_viewshed_curv(spark, sf_dir):
    # gdal_viewshed with the earth-curvature+refraction correction
    # ([Height] -= c*R^2/ED, viewshed_executor.cpp:295, default c=0.85714
    # viewshed_types.h:77) and a 20 m target height on 10 km cells; all
    # correction terms are rational (R^2 — no sqrt), so the duckdb twin
    # is bit-exact
    return vshed.viewshed(_base_grid8(spark, sf_dir), observer=(12, 10),
                          maxdist=8.0, observer_height=2.0,
                          target_height=20.0,
                          curve_coeff=vshed.CURVE_COEFF_DEFAULT,
                          cell_size=10000.0)


def _q_viewshed_minheight(spark, sf_dir):
    # GVOT_MIN_TARGET_HEIGHT_FROM_DEM (viewshed.h heightMode; setOutput
    # viewshed_executor.cpp:184): how much height above the DEM a target
    # needs to become visible — max-agg of the required-height terms,
    # exact rational arithmetic
    return vshed.viewshed(_base_grid8(spark, sf_dir), observer=(12, 10),
                          maxdist=8.0, observer_height=2.0,
                          mode="min_height")


def _q_viewshed_cumulative(spark, sf_dir):
    # gdal raster viewshed --mode cumulative (alg/viewshed/
    # cumulative.cpp): observers every 6 cells over the full grid, each
    # a normal viewshed with visibleVal=1; uint32 rollup then the 8-bit
    # spread floor((255/max)*v) (scaleOutput :200-213). The observer
    # grid is the bounded broadcast side; the LOS test stays exact
    # rational arithmetic, and the scale factor is one IEEE divide on
    # both engines.
    return vshed.viewshed_cumulative(_base_grid8(spark, sf_dir),
                                     spacing=6, observer_height=2.0)


def _ramp(spark, sf_dir):
    """Scale-independent 3-stop color ramp at the grid's exact min/mean/
    max (integer-valued -> cross-engine exact doubles)."""
    g = _base_grid8(spark, sf_dir)
    r = g.agg(F.min("value"), F.avg("value"), F.max("value")).collect()[0]
    return [(float(r[0]), 0.0, 0.0, 255.0),
            (float(r[1]), 0.0, 255.0, 0.0),
            (float(r[2]), 255.0, 0.0, 0.0)]


def _q_color_relief(spark, sf_dir):
    # gdaldem color-relief (apps/gdaldem_lib.cpp): piecewise-linear RGB
    # ramp; per-segment slopes are driver-computed doubles injected into
    # BOTH engines, so each channel is two identical IEEE ops
    return dem.color_relief(_base_grid8(spark, sf_dir),
                            _ramp(spark, sf_dir))


def _q_dem_tri(spark, sf_dir):
    # TRI Riley (gdaldem_lib.cpp default): sqrt of the sum of squared
    # center-neighbor diffs — exact on the integer-valued grid
    out = focal.tri(_base_grid8(spark, sf_dir), alg="riley")
    return out.select("bx", "by", "value", "tri")


def _q_grid_idw(spark, sf_dir):
    pts = _tbl(spark, sf_dir, "part").select(
        ((F.col("p_partkey") * 9973 % 2000) / 10.0).alias("x"),
        ((F.col("p_partkey") * 6151 % 2000) / 10.0).alias("y"),
        F.col("p_retailprice").alias("z"),
    )
    out = grid.grid_idw(pts, cell_size=10.0, radius=15.0)
    return out.select("bx", "by", F.round("value", 4).alias("value"))


def _base_grid8(spark, sf_dir):
    """Deterministic DENSE 25x20 cell grid (bx, by, value=char sum) shared
    by the DEM / interpolation queries and their oracles. Built from
    doc_id row-major (not the geo scatter: documents has only 500 rows at
    sf<=0.01 and Mercator row compression leaves geo grids too patchy for
    complete 3x3 stencil windows). Every cell is populated at every sf,
    so the stencils exercise real windows."""
    d = _tbl(spark, sf_dir, "documents")
    return (
        d.select(
            (F.col("doc_id") % 25).cast("long").alias("bx"),
            (F.floor(F.col("doc_id") / 25) % 20).cast("long").alias("by"),
            F.col("n_chars"),
        )
        .groupBy("bx", "by")
        .agg(F.sum("n_chars").cast("double").alias("value"))
    )


def _q_dem_slope(spark, sf_dir):
    out = dem.slope(_base_grid8(spark, sf_dir), percent=True)
    return out.select("bx", "by", "dzdx", "dzdy", "slope_pct")


def _q_dem_aspect(spark, sf_dir):
    return dem.aspect(_base_grid8(spark, sf_dir), sector=True)


def _q_dem_hillshade(spark, sf_dir):
    return dem.hillshade(_base_grid8(spark, sf_dir))


# gdaldem-replay parameters: n43.tif's square-pixel geotransform and the
# reference autotest's `-s 111120 -z 30` flags (test_gdaldem.py:42) —
# chosen so the driver query exercises the SAME folded constants the
# byte-exact n43 checksum replays validate (tests/test_gdaldem_replay.py)
_GDALDEM_GT = (0.0, 0.008333333333333333, 0.0, 0.0, 0.0,
               -0.008333333333333333)


def _q_gdaldem_hillshade(spark, sf_dir):
    """Byte-exact gdaldem hillshade (operators/gdaldem_compat): the
    reference's same-res fast path (gdaldem_lib.cpp:1030) — integer Horn
    sums, folded constants, float32 cast, floor(f + 0.5f) byte write;
    border cells carry the dst-nodata 0 (no -compute_edges)."""
    return gdaldem_compat.hillshade_gdal(
        _base_grid8(spark, sf_dir), _GDALDEM_GT, 25, 20,
        z=30.0, scale=111120.0,
    ).select("bx", "by", "shade")


def _q_gdaldem_derivatives(spark, sf_dir):
    """Four byte/float32-exact gdaldem replays in one driver row: TPI
    and Wilson-free TRI (Riley) and roughness (their float-0.125f /
    double-square disciplines) plus the MULTIDIRECTIONAL hillshade
    (USGS of92-422 4-azimuth blend) — all transcendental-free, so the
    duckdb twin is exact including the float32 casts."""
    base = _base_grid8(spark, sf_dir)
    tpi = gdaldem_compat.tpi_gdal(base, 25, 20)
    tri = gdaldem_compat.tri_gdal(base, 25, 20)
    rough = gdaldem_compat.roughness_gdal(base, 25, 20)
    hs = gdaldem_compat.hillshade_gdal(
        base, _GDALDEM_GT, 25, 20, z=30.0, scale=111120.0,
        variant="multidirectional")
    return (tpi.join(tri, ["bx", "by"]).join(rough, ["bx", "by"])
            .join(hs, ["bx", "by"])
            .select("bx", "by", "tpi", "tri", "roughness", "shade"))


def _q_raster_mosaic(spark, sf_dir):
    """gdal_merge paint-over mosaic (raster.mosaic): three layers with
    different coverage masks; later layers overwrite wherever present.
    All-integer values -> exact oracle (duckdb arg_max on the distinct
    layer rank mirrors max_by)."""
    d = _tbl(spark, sf_dir, "documents")

    def layer(i):
        return (
            d.filter(F.col("doc_id") % (i + 2) == 0)
            .select(
                (F.col("doc_id") % 25).cast("long").alias("bx"),
                (F.floor(F.col("doc_id") / 25) % 20).cast("long")
                .alias("by"),
                F.col("n_chars"))
            .groupBy("bx", "by")
            .agg((F.sum("n_chars") * (i + 1)).cast("double").alias("value"))
        )

    return raster.mosaic([layer(0), layer(1), layer(2)])


def _o_raster_mosaic() -> str:
    layers = "\nUNION ALL\n".join(f"""
  SELECT CAST(doc_id % 25 AS BIGINT) AS bx,
         CAST(floor(doc_id/25) AS BIGINT) % 20 AS "by",
         CAST(sum(n_chars) * {i + 1} AS DOUBLE) AS v, {i} AS r
  FROM documents WHERE doc_id % {i + 2} = 0 GROUP BY 1, 2"""
                                  for i in range(3))
    return f"""
WITH u AS ({layers})
SELECT bx, "by", arg_max(v, r) AS value FROM u GROUP BY bx, "by"
"""


_OVL_J = 4.0 / (2.0 ** 52)   # 13 md5 hex digits -> [0, 4), exact pow2 scale
_OVL_T = 8.0 / (2.0 ** 52)   # -> [0, 8) for the B-quad translation


def _ovl_pairs(spark, sf_dir):
    """md5-synthesized polygon pairs for the overlay query: quad A is a
    10x10 square with each corner jittered inside its own 4x4 corner box
    (guarantees simple + CCW: corners stay quadrant-ordered around
    (5,5)); quad B is the same construction translated by [-1, 7)^2, so
    the pair population covers crossing / nested / disjoint cases.  md5
    coordinates are in general position (no collinear overlaps, no
    shared vertices), the property that makes the clip kernel's
    eps-free relational twin exact."""
    h = lambda tag: F.conv(
        F.substring(F.md5(F.concat(F.lit(tag),
                                   F.col("p_partkey").cast("string"))),
                    1, 13), 16, 10).cast("long").cast("double")
    j = lambda tag: h(tag) * _OVL_J
    dx = h("tx|") * _OVL_T - 1.0
    dy = h("ty|") * _OVL_T - 1.0
    return _tbl(spark, sf_dir, "part").filter(
        F.col("p_partkey") % 7 == 0
    ).select(
        F.col("p_partkey").alias("pair_id"),
        F.array(j("ax0|"), F.lit(10.0) - j("ax1|"),
                F.lit(10.0) - j("ax2|"), j("ax3|")).alias("xa"),
        F.array(j("ay0|"), j("ay1|"),
                F.lit(10.0) - j("ay2|"), F.lit(10.0) - j("ay3|")).alias("ya"),
        F.array(j("bx0|") + dx, (F.lit(10.0) - j("bx1|")) + dx,
                (F.lit(10.0) - j("bx2|")) + dx, j("bx3|") + dx).alias("xb"),
        F.array(j("by0|") + dy, j("by1|") + dy,
                (F.lit(10.0) - j("by2|")) + dy,
                (F.lit(10.0) - j("by3|")) + dy).alias("yb"),
    )


def _q_geom_overlay(spark, sf_dir):
    """Polygon-layer overlay (OGRLayer::Intersection family,
    ogrlayer.cpp:4063+) over md5 quad pairs: intersection / union /
    difference areas per pair via the geo/clip boolean kernel.  EXACT
    oracle: duckdb replays the whole geometry pipeline relationally —
    split each boundary edge at parametric crossings (same t/u
    formulas), classify fragments by ray-cast parity of the midpoint
    (same xint formula as geo/pip), and sum directed Green's-theorem
    contributions; difference reverses the kept B-fragments.  Fragment
    sums are float-order dependent across engines -> 6 dp round both
    sides (CLAUDE.md fold rule)."""
    return ovl.pairwise_overlay_areas(_ovl_pairs(spark, sf_dir)).select(
        "pair_id", "inter_area", "union_area", "diff_area")


def _q_geom_predicates(spark, sf_dir):
    """The OGR geometry predicate set (Intersects/Within/Contains/
    Overlaps, ogr_geometry.h:546-553) evaluated by geo/clip.relate over
    the same md5 quad pairs; the oracle derives each truth value from
    the relational fragment classification (generic position makes
    predicate truth == fragment-set emptiness tests)."""
    return ovl.pairwise_predicates(_ovl_pairs(spark, sf_dir))


def _q_interp_bilinear(spark, sf_dir):
    cells = _base_grid8(spark, sf_dir)
    # prime denominator (/997, like interp_cubic): /10 grid-aligned points
    # can land the rounded fold EXACTLY on the 6-dp half-boundary where
    # engine ulps flip the digit; /997 results never terminate there
    pts = _tbl(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pt_id"),
        ((F.col("p_partkey") * 7919 % 24925) / 997.0).alias("px"),
        ((F.col("p_partkey") * 6151 % 19940) / 997.0).alias("py"),
    )
    out = interp.interpolate_at_points(pts, cells, method="bilinear")
    # round: the 4-term weighted sum's fold order is engine-dependent
    return out.select("pt_id", "px", "py", F.round("value", 6).alias("value"))


def _sjoin_pts(spark, sf_dir):
    return _pages(spark, sf_dir).select("doc_id", "lon", "lat")


def _q_sjoin_left(spark, sf_dir):
    # OGR left-join shape (ogr_gensql.cpp:1507-1537): unmatched keep NULL
    j = sjoin.spatial_join(_sjoin_pts(spark, sf_dir), _rect_polyset(),
                           zoom=6, how="left")
    return j.select("doc_id", "poly_id")


def _q_sjoin_clip(spark, sf_dir):
    # Clip (ogrlayer.cpp:7356): keep inputs inside the method layer —
    # for point inputs, the semi-join face of the spatial join
    j = sjoin.spatial_join(_sjoin_pts(spark, sf_dir), _rect_polyset(),
                           zoom=6, how="semi")
    return j.select("doc_id")


def _q_sjoin_erase(spark, sf_dir):
    # Erase (ogrlayer.cpp:7665): keep inputs NOT covered by the method
    # layer — the anti-join face
    j = sjoin.spatial_join(_sjoin_pts(spark, sf_dir), _rect_polyset(),
                           zoom=6, how="anti")
    return j.select("doc_id")


# 5th rectangle for the layer-algebra faces: sits strictly BETWEEN the
# /1000-degree page-coordinate grid lines, so it contains no page at ANY
# sf — guarantees a non-empty "method feature with no input rows" arm
_RECT5 = (5, 0.0001, 0.0001, 0.0009, 0.0009)


def _rect5_polyset():
    return sjoin.PolygonSet([(pid, _rect_rings(x0, y0, x1, y1))
                             for pid, x0, y0, x1, y1 in [*_RECTS, _RECT5]])


def _q_sjoin_identity(spark, sf_dir):
    # Identity (ogrlayer.cpp:6589): every input feature survives; method
    # attributes (poly_id, poly_area) attach where the method layer covers
    # it, NULL elsewhere (schema rule :4936 — input + method fields)
    j = sjoin.spatial_join(_sjoin_pts(spark, sf_dir), _rect5_polyset(),
                           zoom=6, how="identity")
    return j.select("doc_id", "poly_id", "poly_area")


def _q_sjoin_union(spark, sf_dir):
    # Union (ogrlayer.cpp:5622): identity rows + method features covering
    # no input row (input fields NULL)
    j = sjoin.spatial_join(_sjoin_pts(spark, sf_dir), _rect5_polyset(),
                           zoom=6, how="union")
    return j.select("doc_id", "poly_id", "poly_area")


def _q_sjoin_symdiff(spark, sf_dir):
    # SymDifference (ogrlayer.cpp:6159): input rows covered by NO method
    # feature + method features covering no input row
    j = sjoin.spatial_join(_sjoin_pts(spark, sf_dir), _rect5_polyset(),
                           zoom=6, how="symdiff")
    return j.select("doc_id", "poly_id", "poly_area")


def _warp_src(spark, sf_dir, cell: float = 5.0):
    """Shared warp source: `cell`-degree lon/lat grid of page counts with
    cell centers (cx, cy) — the input for the whole warp-kernel family."""
    return (
        _pages(spark, sf_dir)
        .groupBy(
            F.floor(F.col("lon") / cell).cast("long").alias("gx"),
            F.floor(F.col("lat") / cell).cast("long").alias("gy"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
        .withColumn("cx", (F.col("gx") + 0.5) * cell)
        .withColumn("cy", (F.col("gy") + 0.5) * cell)
    )


def _q_warp_avg(spark, sf_dir):
    # gdalwarp -r average, 4326 -> 3857/z4: source = 5-degree lon/lat grid
    # of page counts; target cell = Mercator tile of the source-cell
    # center; kernel = mean of contributing source cells (closed-form
    # reprojection + groupBy agg — SURVEY §2.10 warp row)
    return warp.warp_agg(_warp_src(spark, sf_dir), zoom=4, kernel="average")


def _q_warp_rms(spark, sf_dir):
    # gdalwarp -r rms (gdalwarper.cpp:1936): sqrt of the mean square —
    # exact cross-engine because counts are integer-valued
    return warp.warp_agg(_warp_src(spark, sf_dir), zoom=4, kernel="rms")


def _q_warp_mode(spark, sf_dir):
    # gdalwarp -r mode (gdalwarper.cpp:1937): most frequent value, ties to
    # the smallest; source value quantized (count % 4) so ties are real
    src = _warp_src(spark, sf_dir).withColumn(
        "v", (F.col("v").cast("long") % 4).cast("double"))
    return warp.warp_agg(src, zoom=4, kernel="mode")


def _q_warp_q1q3(spark, sf_dir):
    # gdalwarp -r med/q1/q3 (gdalwarper.cpp:1940-1943) in one pass;
    # discrete percentiles (rank = max(1, ceil(p*n))) are engine-exact
    return warp.warp_quartiles(_warp_src(spark, sf_dir), zoom=4)


def _q_warp_near(spark, sf_dir):
    # gdalwarp -r near: pull-based sampling — each target-tile center
    # inverse-projects (closed form) and picks the covering source cell
    return warp.warp_near(_warp_src(spark, sf_dir), zoom=4, cell_size=5.0)


def _q_warp_bilinear(spark, sf_dir):
    # gdalwarp -r bilinear: 4-tap pull sample; the weighted fold's weights
    # carry transcendental-inverse ulps -> round both engines to 6 dp.
    # Source grid is 30 degrees: EVERY cell is populated at sf>=0.01
    # (500 pages over 72 cells), so complete 4-tap windows exist at every
    # sf — a 5-degree source left 0 rows at sf0.01 (vacuous parity)
    out = warp.warp_bilinear(_warp_src(spark, sf_dir, cell=30.0),
                             zoom=4, cell_size=30.0)
    return out.select("x", "y", F.round("value", 6).alias("value"))


def _q_warp_cubic(spark, sf_dir):
    # gdalwarp -r cubic (Catmull-Rom, gdalresamplingkernels.h:23): 16-tap
    # normalized convolution pull sample; weights evaluated from the SAME
    # SQL text as the duckdb twin, fold rounded to 6 dp on both sides
    out = warp.warp_convolution(_warp_src(spark, sf_dir, cell=30.0),
                                zoom=4, cell_size=30.0, kernel="cubic")
    return out.select("x", "y", F.round("value", 6).alias("value"))


def _q_warp_cubicspline(spark, sf_dir):
    # gdalwarp -r cubicspline (GWKBSpline, gdalwarpkernel.cpp:3680)
    out = warp.warp_convolution(_warp_src(spark, sf_dir, cell=30.0),
                                zoom=4, cell_size=30.0, kernel="cubicspline")
    return out.select("x", "y", F.round("value", 6).alias("value"))


def _q_warp_lanczos(spark, sf_dir):
    # gdalwarp -r lanczos (GWKLanczosSinc, gdalwarpkernel.cpp:3540): 36-tap
    # radius-3 windowed sinc incl. the reference's single-sin trick
    out = warp.warp_convolution(_warp_src(spark, sf_dir, cell=30.0),
                                zoom=4, cell_size=30.0, kernel="lanczos")
    return out.select("x", "y", F.round("value", 6).alias("value"))


def _q_rasterize_lines(spark, sf_dir):
    # gdal_rasterize over LINESTRINGs (GDALdllImageLine Bresenham,
    # llrasterize.cpp:256): 25 nation-derived segments burned into a
    # 200x200 grid, REPLACE = largest line id wins. The duckdb twin
    # replays the integer walk as a recursive CTE — exact arithmetic.
    rows = _tbl(spark, sf_dir, "nation").select("n_nationkey").collect()
    lines = []
    burns = {}
    for r in rows:
        k = int(r.n_nationkey)
        lines.append((k, [((k * 7919 % 2000) / 10.0,
                           (k * 104729 % 2000) / 10.0),
                          ((k * 9973 % 2000) / 10.0,
                           (k * 6151 % 2000) / 10.0)]))
        burns[k] = float(k)
    out = raster.rasterize_lines(spark, lines, burns, cell_size=1.0,
                                 origin=(0.0, 0.0), width=200, height=200)
    return out.select("bx", "by", "value")


def _q_raster_calc(spark, sf_dir):
    # two aligned bands from documents: A = char sum, B = doc count; out =
    # reclassified mean chars-per-doc (pixel-function map algebra, §2.8)
    d = _tbl(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 25).cast("long").alias("bx"),
        (F.floor(F.col("doc_id") / 25) % 20).cast("long").alias("by"),
        "n_chars",
    )
    a = d.groupBy("bx", "by").agg(F.sum("n_chars").cast("double").alias("value"))
    b = d.groupBy("bx", "by").agg(F.count(F.lit(1)).cast("double").alias("value"))
    mean_chars = raster.calc({"A": a, "B": b}, F.col("A") / F.col("B"))
    return raster.reclassify(mean_chars, breaks=[200.0, 300.0, 400.0],
                             classes=[0, 1, 2, 3]).withColumn(
        "value", F.col("value").cast("int"))


def _q_interp_cubic(spark, sf_dir):
    cells = _base_grid8(spark, sf_dir)
    # prime-denominator coordinates: grid-aligned /10 points made ~1.3% of
    # results land EXACTLY on the 6-dp rounding half-boundary, where
    # engine fold-order ulps flip the rounded digit; /997 coordinates have
    # non-terminating decimal results and never sit on the knife edge
    pts = _tbl(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pt_id"),
        ((F.col("p_partkey") * 7919 % 24925) / 997.0).alias("px"),
        ((F.col("p_partkey") * 6151 % 19940) / 997.0).alias("py"),
    )
    out = interp.interpolate_cubic(pts, cells)
    # 16-term weighted fold is order-dependent -> round both engines
    return out.select("pt_id", "px", "py", F.round("value", 6).alias("value"))


def _q_interp_nearest(spark, sf_dir):
    cells = _base_grid8(spark, sf_dir)
    pts = _tbl(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pt_id"),
        ((F.col("p_partkey") * 7919 % 250) / 10.0).alias("px"),
        ((F.col("p_partkey") * 6151 % 200) / 10.0).alias("py"),
    )
    return interp.interpolate_at_points(pts, cells, method="nearest")


def _q_sjoin_update(spark, sf_dir):
    # Update (ogrlayer.cpp:7007): where the method layer covers an input
    # feature, method attributes REPLACE input attributes; elsewhere the
    # input passes through. Point-input recast: lang is overwritten by the
    # polygon's tag for covered points.
    pts = _pages(spark, sf_dir).select("doc_id", "lon", "lat", "lang")
    j = sjoin.spatial_join(pts, _rect_polyset(), zoom=6, how="left")
    return j.select(
        "doc_id",
        F.when(F.col("poly_id").isNotNull(),
               F.concat(F.lit("zone_"), F.col("poly_id").cast("string")))
        .otherwise(F.col("lang")).alias("tag"),
    )


def _q_contour(spark, sf_dir):
    # level = grid mean: scale-independent (a fixed level sits below every
    # cell at bigger sf) and cross-engine exact — cell values are
    # integer-valued doubles, so the sum is exact under ANY fold order and
    # the mean is one IEEE division in both engines
    g = _base_grid8(spark, sf_dir)
    lvl = g.agg(F.avg("value")).collect()[0][0]
    return contour.contour_segments(g, level=float(lvl))


def _q_contour_multi(spark, sf_dir):
    # level series at the grid's quartile marks, scale-independent; min/max
    # are exact on the integer-valued grid and the divisions are fixed, so
    # both engines derive identical level doubles
    g = _base_grid8(spark, sf_dir)
    r = g.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).collect()[0]
    step = (r.hi - r.lo) / 4.0
    levels = [r.lo + step, r.lo + 2 * step, r.lo + 3 * step]
    return contour.contour_segments_multi(g, levels)


def _q_sieve(spark, sf_dir):
    # classed raster (3 value classes) -> distributed CC -> sieve: regions
    # under 3 cells merge into their largest neighbor (tie: smallest id).
    # Exact duckdb twin via recursive-CTE min-label CC (_o_sieve).
    cells = _base_grid8(spark, sf_dir).select(
        "bx", "by", F.floor(F.col("value") / 200.0).cast("double").alias("value")
    )
    return polygonize.sieve(cells, threshold=3)


def _prox_grid(spark, sf_dir):
    d = _tbl(spark, sf_dir, "documents")
    return (
        d.select(
            (F.col("doc_id") % 25).cast("long").alias("bx"),
            (F.floor(F.col("doc_id") / 25) % 20).cast("long").alias("by"),
            F.col("doc_id"),
        )
        .groupBy("bx", "by")
        .agg((F.min("doc_id") % 5).cast("double").alias("value"))
    )


def _q_proximity(spark, sf_dir):
    out = proximity.proximity(_prox_grid(spark, sf_dir), [0.0], maxdist=3.5)
    return out.select("bx", "by", "dist")


def _q_fillnodata(spark, sf_dir):
    holes = _base_grid8(spark, sf_dir).filter(
        (F.col("bx") * 31 + F.col("by")) % 7 != 0
    )
    out = proximity.fillnodata(holes, radius=2.5)
    return out.select("bx", "by", F.round("value", 6).alias("value"),
                      F.col("filled").cast("int").alias("filled"))


def _grid_pts(spark, sf_dir):
    return _tbl(spark, sf_dir, "part").select(
        ((F.col("p_partkey") * 9973 % 2000) / 10.0).alias("x"),
        ((F.col("p_partkey") * 6151 % 2000) / 10.0).alias("y"),
        F.col("p_retailprice").cast("double").alias("z"),
    )


def _grid_pts997(spark, sf_dir):
    """Point derivation with PRIME denominator /997 (not the /10 grid of
    _grid_pts): rounded order-dependent folds (avg_dist) on grid-aligned
    coordinates can park on the 6-dp rounding knife edge."""
    return _tbl(spark, sf_dir, "part").select(
        ((F.col("p_partkey") * 9973 % 199400) / 997.0).alias("x"),
        ((F.col("p_partkey") * 6151 % 199400) / 997.0).alias("y"),
        F.col("p_retailprice").cast("double").alias("z"),
    )


def _q_grid_movavg(spark, sf_dir):
    # moving average (gdalgrid.cpp:629); DECIMAL sum -> one division, so
    # no rounding needed for cross-engine exactness
    return grid.grid_movavg(_grid_pts997(spark, sf_dir),
                            cell_size=10.0, radius=15.0)


def _q_grid_invdistnn(spark, sf_dir):
    # invdistnn (gdalgrid.cpp:191): IDW over the nearest max_points=8
    # candidates, power fixed at 2 so the weight 1/d^2 stays rational;
    # fold order differs across engines -> round to 6 dp on both sides
    out = grid.grid_invdistnn(_grid_pts997(spark, sf_dir),
                              cell_size=10.0, radius=15.0,
                              max_points=8, min_points=3)
    return out.select("bx", "by", F.round("value", 6).alias("value"))


def _q_grid_quadrant(spark, sf_dir):
    # per-quadrant metrics (gdalgrid.cpp:1145-1442): cells qualify only
    # with >=2 points in EVERY quadrant around the center
    out = grid.grid_metrics_quadrant(_grid_pts997(spark, sf_dir),
                                     cell_size=10.0, radius=15.0,
                                     min_points=2)
    return out.select(
        "bx", "by", "minimum", "maximum",
        F.col("count").cast("long").alias("n"),
        F.round("average_distance", 6).alias("avg_dist"),
    )


_TIN_SCALE = 200.0 / (2.0 ** 52)  # 25 * 2^-49: exact power-of-two scale


def _tin_points(spark, sf_dir):
    """md5-derived scatter for the TIN query: 13 hex digits -> [0, 2^52)
    exactly representable, scaled by an exact power-of-two quotient, so
    both engines produce BIT-IDENTICAL doubles. md5 coordinates put the
    points in general position (no 4 cocircular, no 3 collinear) — the
    property that makes the Delaunay triangulation unique and hence
    relationally characterizable (the earlier /997 lattice synthesis had
    EXACT cocircular ties everywhere, broken only by insertion order)."""
    h = lambda tag: F.conv(
        F.substring(F.md5(F.concat(F.lit(tag),
                                   F.col("p_partkey").cast("string"))),
                    1, 13), 16, 10).cast("long").cast("double") * _TIN_SCALE
    return _tbl(spark, sf_dir, "part").filter(
        F.col("p_partkey") % 13 == 0
    ).select(
        h("gx|").alias("x"), h("gy|").alias("y"),
        F.col("p_retailprice").cast("double").alias("z"),
    )


def _q_grid_linear(spark, sf_dir):
    # TIN-linear gridding (gdalgrid.cpp GGA_Linear / alg/delaunay.c).
    # EXACT oracle via the empty-circumcircle characterization: the
    # engine's per-block Bowyer-Watson equals Delaunay(P u {3 super
    # vertices}) restricted to real triples, and with md5 general-
    # position points that set is definable in SQL (circumcircle empty
    # of every other block point AND of the super vertices, whose
    # coordinates are block min/max aggregates). Validated: all 48
    # blocks' triangle sets match brute force at sf0.01, min incircle
    # margin 8.36 (fp noise ~1e-7), min |barycentric| 5e-4, zero
    # multi-containment — so sign tests and the containment rule are
    # fp-safe. The barycentric fold is vertex-order dependent (engine
    # CCW vs oracle sorted) -> round to 6 dp on BOTH sides per the
    # exactness conventions.
    out = grid.grid_linear(_tin_points(spark, sf_dir),
                           cell_size=10.0, block_cells=4, margin=20.0)
    return out.select("bx", "by", F.round("value", 6).alias("value"))


def _q_grid_metrics(spark, sf_dir):
    out = grid.grid_metrics(_grid_pts997(spark, sf_dir),
                            cell_size=10.0, radius=15.0)
    return out.select(
        "bx", "by", "minimum", "maximum", "range",
        F.col("count").cast("long").alias("n"),
        F.round("average_distance", 6).alias("avg_dist"),
    )


def _q_grid_metrics_pts(spark, sf_dir):
    # average_distance_pts (gdalgrid.cpp:2283, strict i<j pair semantic):
    # per-cell self-join on the same (bx, by) key the metrics groupBy
    # shuffles on; avg of sqrt pair distances rounded 6 dp both sides
    # (/997 coords keep the fold off the rounding knife edge)
    out = grid.grid_metrics(_grid_pts997(spark, sf_dir), cell_size=10.0,
                            radius=15.0, include_pts_distance=True)
    return out.select(
        "bx", "by", F.col("count").cast("long").alias("n"),
        F.round("average_distance_pts", 6).alias("avg_dist_pts"))


def _q_grid_nearest(spark, sf_dir):
    return grid.grid_nearest(_grid_pts(spark, sf_dir), cell_size=10.0, radius=15.0)


def _q_filter_like(spark, sf_dir):
    p = _tbl(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%widget%") & F.col("p_brand").ilike("brand#1%")
    ).select("p_partkey", "p_name", "p_brand")


def _q_filter_in_between(spark, sf_dir):
    l = _tbl(spark, sf_dir, "lineitem")
    return l.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= "1996-01-01")
    ).select("l_orderkey", F.col("l_linenumber").cast("long").alias("l_linenumber"))


def _q_order_limit_offset(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(5).limit(10)
        .select("o_orderkey", "o_totalprice")
    )


def _q_distinct(spark, sf_dir):
    return ogrsql.distinct_list(_tbl(spark, sf_dir, "customer"), "c_mktsegment")


def _q_summary_agg(spark, sf_dir):
    return ogrsql.summary_record(_tbl(spark, sf_dir, "lineitem"), "l_quantity")


def _q_count_distinct(spark, sf_dir):
    l = _tbl(spark, sf_dir, "lineitem")
    return l.agg(
        F.count(F.lit(1)).alias("n_all"),
        F.countDistinct("l_returnflag").alias("n_flags"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


def _q_first_match_join(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders").select("o_orderkey")
    l = _tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_linenumber").cast("long").alias("l_linenumber"), "l_partkey"
    )
    j = ogrsql.first_match_left_join(
        o, l, o.o_orderkey == l.l_orderkey, "o_orderkey",
        ["l_linenumber", "l_partkey"],
    )
    return j.select("o_orderkey", "l_linenumber", "l_partkey")


def _q_union_all(spark, sf_dir):
    c = _tbl(spark, sf_dir, "customer").filter("c_custkey < 50").select(
        F.col("c_custkey").alias("key"), F.lit("cust").alias("src")
    )
    s = _tbl(spark, sf_dir, "supplier").filter("s_suppkey < 50").select(
        F.col("s_suppkey").alias("key"), F.lit("supp").alias("src")
    )
    return c.unionByName(s)


def _q_cast_concat_substr(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    return o.select(
        "o_orderkey",
        F.concat(F.col("o_orderstatus"), F.lit("-"), F.col("o_orderpriority")).alias("tag"),
        F.substring("o_orderpriority", 1, 1).alias("pri1"),
        F.floor("o_totalprice").cast("long").alias("price_int"),
    )


def _q_hstore_get(spark, sf_dir):
    e = _tbl(spark, sf_dir, "events")
    e = ogrsql.hstore_get(e, "props", "k", "kval")
    return (
        e.withColumn("k", F.col("kval").cast("long"))
        .filter(F.col("k") > 50)
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    )


def _q_tpch_q1(spark, sf_dir):
    l = _tbl(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") < "1999-01-01")
    dec = "decimal(30,6)"
    g = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(dec)).cast("double").alias("sum_qty"),
        F.sum((F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(dec))
        .cast("double").alias("sum_rev"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return g.withColumn("avg_qty", F.col("sum_qty") / F.col("n_rows"))


def _q_window_topk(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice",
                F.col("rnk").cast("long").alias("rnk"))
    )


def _q_window_running(spark, sf_dir):
    l = _tbl(spark, sf_dir, "lineitem").filter("l_suppkey < 10")
    w = W.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    run = F.sum(F.col("l_quantity").cast("decimal(30,6)")).over(
        w.rowsBetween(W.unboundedPreceding, 0)
    )
    return l.select(
        "l_suppkey", "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        run.cast("double").alias("running_qty"),
    )


def _q_set_intersect(spark, sf_dir):
    c = _tbl(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    o = _tbl(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return c.intersect(o)


def _q_set_except(spark, sf_dir):
    # residue sets guarantee a non-empty difference at every sf (the raw
    # custkey-without-orders form collapses to 0 rows at sf0.01, where
    # every customer has an order — a 0-row gate check proves nothing)
    c = _tbl(spark, sf_dir, "customer").select(
        (F.col("c_custkey") % 97).alias("key"))
    o = _tbl(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 50).alias("key"))
    # set semantics: distinct both sides BEFORE exceptAll (a multiset left
    # would only lose ONE occurrence per right row)
    return c.distinct().exceptAll(o.distinct())


def _q_pivot(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_o"),
        F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_f"),
        F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_p"),
    )


def _q_events_tumbling(spark, sf_dir):
    e = _tbl(spark, sf_dir, "events")
    out = ev.windowed_counts_batch(e, minutes=5)
    return out.select(
        # parquet timestamps are NTZ; via LTZ (session TZ pinned to UTC)
        # the long cast is epoch seconds, matching duckdb epoch()
        F.col("w_start").cast("timestamp_ltz").cast("long").alias("w_start"),
        "event_type", "n", "v",
    )


def _q_events_sessionize(spark, sf_dir):
    e = _tbl(spark, sf_dir, "events")
    out = ev.sessionize_batch(e, gap_minutes=30)
    return out.select(
        "user_id", F.col("session_id").cast("long").alias("session_id"),
        "n_events",
        F.unix_micros(F.col("t0").cast("timestamp_ltz")).alias("t0"),
        F.unix_micros(F.col("t1").cast("timestamp_ltz")).alias("t1"),
    )


def _q_dedup_exact(spark, sf_dir):
    d = _tbl(spark, sf_dir, "documents")
    return dedup.exact_dedup(d, "doc_id", "text").select("doc_id")


def _q_minhash_sigs(spark, sf_dir):
    d = _tbl(spark, sf_dir, "documents")
    return dedup.minhash_signature(d, "doc_id", "text", n_hashes=4, shingle_n=3)


def _q_simhash(spark, sf_dir):
    return dedup.simhash(_tbl(spark, sf_dir, "documents"), "doc_id", "text", n_bits=16)


def _q_fingerprint(spark, sf_dir):
    return textops.fingerprint(_tbl(spark, sf_dir, "documents")).select("doc_id", "fp")


def _q_token_quality(spark, sf_dir):
    d = _tbl(spark, sf_dir, "documents")
    out = textops.quality_score(d)
    return out.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        "alpha_ratio", "stopword_ratio", "quality",
    )


def _pages_crawl(spark, sf_dir):
    """Pages-shaped crawl table with DUPLICATE urls derived from
    documents: ~2.5 crawls per url at sf0.01, ts from integer math —
    identical in both engines."""
    d = _tbl(spark, sf_dir, "documents")
    # 200 distinct urls (host derives from the path key), so every url
    # has multiple crawls at every sf and the dedup is non-degenerate
    return d.select(
        F.col("doc_id"),
        F.concat(F.lit("https://h"),
                 ((F.col("doc_id") % 200) % 7).cast("string"),
                 F.lit(".example.com/p/"),
                 (F.col("doc_id") % 200).cast("string")).alias("url"),
        (F.lit(1600000000) + (F.col("doc_id") * 7919) % 100000).alias("ts"),
        "text",
    )


def _q_latest_snapshot(spark, sf_dir):
    # crawl-dedup: newest ts per url wins, ties to the largest doc_id —
    # the "current web" view over an append-only WARC history
    from lib_gdal_spark.pages import ops as pops
    j = pops.latest_snapshot(_pages_crawl(spark, sf_dir), url_col="url",
                             ts_col="ts", tie_col="doc_id")
    return j.select("url", "doc_id", "ts")


def _q_crawl_incremental(spark, sf_dir):
    # incremental-ingest gate: new crawl rows whose url was never seen.
    # Bloom prefilter (JVM bloom_filter_agg broadcast into the scan) +
    # exact anti-join verify — the bloom only ADMITS candidates, so the
    # result is exact and oracle-checkable as a plain anti-join
    from lib_gdal_spark.pages import ops as pops

    crawl = _pages_crawl(spark, sf_dir)
    seen = crawl.filter(F.col("doc_id") < 100).select("url")
    new = crawl.filter(F.col("doc_id") >= 100)
    out = pops.incremental_dedup(new, seen, url_col="url",
                                 expected_seen=1000)
    return out.select("doc_id", "url")


def _q_host_stats(spark, sf_dir):
    from lib_gdal_spark.pages import ops as pops
    out = pops.host_stats(_pages_crawl(spark, sf_dir))
    return out.select("host", "n_pages",
                      F.col("total_chars").cast("long").alias("total_chars"),
                      F.round("mean_chars", 9).alias("mean_chars"))


def _q_repetition_ratio(spark, sf_dir):
    # Gopher/MassiveText-style repetition signal: duplicate-bigram
    # fraction per doc; 1 - distinct/total is a single division -> exact
    return textops.repetition_ratio(_tbl(spark, sf_dir, "documents"))


def _q_segment_dedup(spark, sf_dir):
    # C4-style corpus-global sentence dedup: each normalized segment
    # survives only at its first (doc_id, position) occurrence
    return textops.segment_dedup(_tbl(spark, sf_dir, "documents"))


def _q_winnow(spark, sf_dir):
    # portable md5-derived gram hash so duckdb computes identical values
    h = lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
    d = _tbl(spark, sf_dir, "documents")
    return textops.winnow_fingerprints(d, k=3, window=4, hash_fn=h)


def _q_lang_id(spark, sf_dir):
    return textops.lang_id(_tbl(spark, sf_dir, "documents")).select("doc_id", "lang_pred")


def _q_jaccard_pairs(spark, sf_dir):
    d = _tbl(spark, sf_dir, "documents")
    pairs = d.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    return dedup.ngram_jaccard(d, pairs, "doc_id", "text")


def _q_cosine_topk(spark, sf_dir):
    e = _tbl(spark, sf_dir, "embeddings")
    q = e.filter("vec_id < 5").select(F.col("vec_id").alias("qid"), "embedding")
    # catalyst path: its left-to-right dot fold matches the duckdb oracle
    # term for term (the default arrow matmul differs in the last ulp and
    # is covered by an equivalence unit test instead)
    out = similarity.cosine_topk(e, q, k=3, method="catalyst")
    return out.select(
        "qid", "vec_id", F.round("cos", 6).alias("cos"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_ann_lsh(spark, sf_dir):
    e = _tbl(spark, sf_dir, "embeddings")
    q = e.filter("vec_id < 5").select(F.col("vec_id").alias("qid"), "embedding")
    out = similarity.ann_lsh(e, q, k=3, n_tables=4, n_bits=6)
    return out.select("qid", "vec_id", F.round("cos", 6).alias("cos"),
                      F.col("rank").cast("long").alias("rank"))


def _q_corpus_clean(spark, sf_dir):
    # the C4/CCNet/Gopher cleaning pipeline as ONE composition: quality
    # >= 0.5 -> lang en -> 2-gram repetition <= 0.5 -> exact dedup ->
    # MinHash-LSH near-dup; every stage is an individually-verified
    # operator, and the composition has its own composed oracle
    d = _tbl(spark, sf_dir, "documents")
    out = textops.corpus_clean(d, min_quality=0.5, langs=("en",),
                               max_repetition=0.5, neardup_threshold=0.8)
    return out.select("doc_id")


def _q_minhash_dedup(spark, sf_dir):
    d = _tbl(spark, sf_dir, "documents")
    return dedup.minhash_dedup(d, "doc_id", "text", threshold=0.8).select("doc_id")


def _q_neardup_clusters(spark, sf_dir):
    # transitive near-dup clustering (dedup.neardup_clusters): verified
    # LSH pairs -> connected components -> one survivor per cluster;
    # oracle composes the minhash_dedup chain with the recursive-CTE
    # min-label CC (the _dd_cc_label pattern over doc-pair edges)
    d = _tbl(spark, sf_dir, "documents")
    return dedup.neardup_clusters(d, "doc_id", "text", threshold=0.8)


def _o_neardup_clusters() -> str:
    sig_cols = ", ".join(
        f"min(md5('{i}|' || shingle)) AS mh_{i}" for i in range(8))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(mh_{2*b} || '|' || mh_{2*b+1}) AS band_key FROM sig"
        for b in range(4))
    return f"""
WITH RECURSIVE {_SHINGLE_CTE},
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
banded AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
dup AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  WHERE COALESCE(i.i, 0)
        / CAST(sa.sz + sb.sz - COALESCE(i.i, 0) AS DOUBLE) >= 0.8
),
dedges AS (
  SELECT CAST(id_a AS BIGINT) AS src, CAST(id_b AS BIGINT) AS dst FROM dup
  UNION ALL
  SELECT CAST(id_b AS BIGINT), CAST(id_a AS BIGINT) FROM dup
),
dverts AS (SELECT DISTINCT src AS v FROM dedges),
reach AS (
  SELECT v AS node, v AS lbl FROM dverts
  UNION
  SELECT e.dst AS node, r.lbl FROM reach r JOIN dedges e ON e.src = r.node
  WHERE r.lbl < e.dst
),
lab AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       COALESCE(lab.cluster, CAST(d.doc_id AS BIGINT)) AS cluster,
       CAST(CASE WHEN COALESCE(lab.cluster, CAST(d.doc_id AS BIGINT))
                      = d.doc_id THEN 1 ELSE 0 END AS INT) AS kept
FROM documents d LEFT JOIN lab ON lab.node = d.doc_id
"""


def _pz_cells(spark, sf_dir):
    """Shared polygonize input: 40x40 classed grid, one row per cell
    (min-n_chars dedup keeps it well-defined at every sf — doc_id wraps
    past 1600 at sf >= 0.1 and duplicate (bx, by) cells with conflicting
    values would make CC ill-posed)."""
    return (
        _tbl(spark, sf_dir, "documents")
        .groupBy(
            (F.col("doc_id") % 40).alias("bx"),
            ((F.col("doc_id") / 40).cast("long") % 40).alias("by"),
        )
        .agg((F.min("n_chars") % 3).cast("double").alias("value"))
    )


def _q_polygonize(spark, sf_dir):
    # distributed CC labeling; region_id = min cell key (by<<32 | bx) of
    # the component — deterministic, so an exact duckdb twin exists via
    # recursive-CTE min-label propagation (autotest/alg/polygonize.py
    # shape recast as a full-grid labeling check)
    return polygonize.polygonize(_pz_cells(spark, sf_dir), block_bits=4)


def _q_polygonize_rings(spark, sf_dir):
    # geometry-producing polygonize (alg/polygonize.cpp; autotest shape
    # asserts geometries): rows-only driver check (ring tracing not SQL);
    # the ring tracer's area==n_cells invariant is unit-tested with goldens
    out = polygonize.polygonize_rings(_pz_cells(spark, sf_dir), block_bits=4)
    return out.select("region_id", "value", "n_cells", "n_rings",
                      "n_vertices", "area")


def _q_multimodal(spark, sf_dir):
    # REAL pure-NumPy decode (BMP/PPM/WAV headers+raw) over synthetic
    # uncompressed payloads. The duckdb twin never parses a byte: it
    # recomputes what the decoded dimensions/stats MUST be from the
    # synthesis formula (pixel k of id i = k*(42+i) % 251, etc.), so a
    # hash match proves the encoder+decoder round-trip cell by cell.
    media = multimodal.synth_media_real(spark, 200)
    out = multimodal.extract_features(media, dim=8, codec="real")
    return out.select(
        "id", "kind", "n_bytes", "ok",
        F.col("feat")[0].alias("f0"), F.col("feat")[1].alias("f1"),
        F.col("feat")[2].alias("f2"), F.col("feat")[3].alias("f3"),
        F.col("feat")[4].alias("f4"), F.col("feat")[5].alias("f5"))


def _pii_aug(d):
    """Documents text with deterministic synthetic PII appended (the
    corpus itself is PII-free word soup): one email, one IPv4, one
    phone per doc, all derived from doc_id — identical int/string math
    in both engines, so redaction is exercised on every row."""
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.org from 10."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".0."),
            (F.col("doc_id") % 100).cast("string"),
            F.lit(" call 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )


def _q_pii_redact(spark, sf_dir):
    # pre-training privacy pass: count + redact emails/IPv4s/phones with
    # placeholder tokens; patterns restricted to the Java-regex/RE2
    # common subset so the oracle runs the literally identical regexes
    out = textops.pii_redact(_pii_aug(_tbl(spark, sf_dir, "documents")))
    return out.select("doc_id", "n_email", "n_ipv4", "n_phone",
                      "text_redacted")


def _q_contamination(spark, sf_dir):
    # GPT-3-style eval decontamination: benchmark = every 97th doc, probe
    # every corpus doc's distinct 3-gram shingles against the broadcast
    # benchmark shingle set (3-grams, not the production 8-gram default,
    # so the synthetic word-soup corpus produces nonzero cross-doc hits)
    d = _tbl(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return dedup.contamination_check(d, bench, "doc_id", "text",
                                     shingle_n=3)


def _q_gopher_rules(spark, sf_dir):
    # Gopher/MassiveText table-A1 quality rules (the single-line subset);
    # min_words=30 sits inside the synthetic word-count distribution at
    # every sf (degenerate-constant trap) — booleans cast to long for the
    # cross-engine hash
    out = textops.gopher_rules(_tbl(spark, sf_dir, "documents"),
                               min_words=30)
    return out.select(
        "doc_id", "word_count", "mean_word_len", "symbol_frac",
        "stop_distinct",
        F.col("ok_words").cast("long").alias("ok_words"),
        F.col("ok_word_len").cast("long").alias("ok_word_len"),
        F.col("ok_symbols").cast("long").alias("ok_symbols"),
        F.col("ok_stop").cast("long").alias("ok_stop"),
        F.col("passes_gopher").cast("long").alias("passes_gopher"),
    )


def _messy_urls(d):
    """Deterministic messy-URL synthesis: mixed-case scheme/host,
    default and explicit ports, empty paths, unsorted query params with
    a trailing separator, fragments — every branch of the canonicalizer
    hit at every sf."""
    did = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.lit("HTTP"),
            F.when(did % 3 == 0, F.lit("S")).otherwise(F.lit("")),
            F.lit("://WWW.Example"), (did % 7).cast("string"),
            F.lit(".COM"),
            F.when(did % 3 == 0, F.lit(":443"))
            .when(did % 5 == 0, F.lit(":8080"))
            .when(did % 2 == 0, F.lit(":80")).otherwise(F.lit("")),
            F.when(did % 4 == 0, F.lit("")).otherwise(
                F.concat(F.lit("/Path/"), (did % 13).cast("string"))),
            F.when(did % 2 == 0, F.concat(
                F.lit("?b=2&a="), (did % 5).cast("string"), F.lit("&")))
            .otherwise(F.lit("")),
            F.when(did % 6 == 0, F.lit("#Frag")).otherwise(F.lit("")),
        ).alias("url"),
    )


def _q_url_canonical(spark, sf_dir):
    # crawl-key normalizer ahead of latest_snapshot/incremental_dedup:
    # lowercase scheme+host, drop default ports + fragments, '/' for
    # empty paths, sorted deduped-empty query params
    from lib_gdal_spark.pages import ops as pops
    d = _messy_urls(_tbl(spark, sf_dir, "documents"))
    return pops.url_canonicalize(d).select("doc_id", "url",
                                           "canonical_url")


# The reference's own 8-color rgbsmall median-cut table
# (autotest/alg/dither.py ref_ct) — median_cut_pct reproduces it
# bit-exactly (tests/test_pct.py); the driver query exercises the
# distributed nearest-palette mapping stage with this fixed palette so
# the duckdb twin can replay the same constants.
_PCT8 = [(36, 48, 32), (92, 120, 20), (88, 96, 20), (92, 132, 56),
         (0, 0, 0), (96, 152, 24), (60, 112, 32), (164, 164, 108)]


def _q_rgb2pct(spark, sf_dir):
    # rgb2pct (alg/gdaldither.cpp:480-488 non-dither LUT path +
    # pct2rgb expansion): synthetic RGB pixels from orders keys, mapped
    # to the reference's own rgbsmall 8-color table through the
    # quantized 32^3 nearest-color LUT (a broadcast equi-join — pure
    # JVM), then expanded back to RGB. All-integer math: exact.
    k = F.col("o_orderkey")
    cells = _tbl(spark, sf_dir, "orders").select(
        k.alias("pixel_id"),
        F.array((k * 7 % 256).cast("double"),
                (k * 13 % 256).cast("double"),
                (k * 29 % 256).cast("double")).alias("vals"))
    out = pct.pct2rgb(pct.rgb2pct(cells, _PCT8, dither=False), _PCT8)
    return out.select(
        "pixel_id", F.col("pct_idx").cast("long").alias("pct_idx"),
        F.col("red").cast("long").alias("red"),
        F.col("green").cast("long").alias("green"),
        F.col("blue").cast("long").alias("blue"))


def _o_rgb2pct():
    # same quantization (5-bit cell -> representative (i*255)//31) and
    # first-wins L1 argmin, relationally: rank palette rows per pixel
    pal_vals = ", ".join(f"({i}, {r}, {g}, {b})"
                         for i, (r, g, b) in enumerate(_PCT8))
    return f"""
WITH px AS (
  SELECT o_orderkey AS pixel_id,
         (o_orderkey * 7) % 256 AS r,
         (o_orderkey * 13) % 256 AS g,
         (o_orderkey * 29) % 256 AS b
  FROM orders
), pal(idx, pr, pg, pb) AS (VALUES {pal_vals}),
rep AS (
  SELECT pixel_id,
         (((r * 32) // 256) * 255) // 31 AS rr,
         (((g * 32) // 256) * 255) // 31 AS rg,
         (((b * 32) // 256) * 255) // 31 AS rb
  FROM px
), ranked AS (
  SELECT pixel_id, idx, pr, pg, pb,
         row_number() OVER (
           PARTITION BY pixel_id
           ORDER BY abs(rr - pr) + abs(rg - pg) + abs(rb - pb), idx) AS rn
  FROM rep CROSS JOIN pal
)
SELECT pixel_id,
       CAST(idx AS BIGINT) AS pct_idx,
       CAST(pr AS BIGINT) AS red,
       CAST(pg AS BIGINT) AS green,
       CAST(pb AS BIGINT) AS blue
FROM ranked WHERE rn = 1
"""


# Fixed GCP set for the driver query (the gdaltransform_4 utm box plus
# two interior ties so order 2 is determined): fit happens driver-side
# exactly as GDALCreateGCPTransformer does; the duckdb twin replays the
# SAME fitted coefficients through GCPPolynomialTransform.sql().
_GCP6 = [(0.0, 0.0, 440720.0, 3751320.0), (20.0, 0.0, 441920.0, 3751320.0),
         (20.0, 20.0, 441920.0, 3750120.0), (0.0, 20.0, 440720.0, 3750120.0),
         (10.0, 5.0, 441320.0, 3751020.0), (5.0, 15.0, 441020.0, 3750420.0)]


def _gcp6_transform():
    from lib_gdal_spark.geo.gcptransform import GCPPolynomialTransform
    return GCPPolynomialTransform(_GCP6, order=2)


def _q_gcp_polywarp(spark, sf_dir):
    # GCP polynomial transformer (alg/gdal_crs.cpp GDALGCPTransform):
    # order-2 fit applied as pure Column arithmetic — same op order as
    # the NumPy twin and the oracle SQL, so all three are bit-identical
    tr = _gcp6_transform()
    k = F.col("o_orderkey")
    pts = _tbl(spark, sf_dir, "orders").select(
        k.alias("pixel_id"),
        (k % 100).cast("double").alias("e"),
        ((k / 100).cast("long") % 100).cast("double").alias("n"))
    gx, gy = tr.columns(F.col("e"), F.col("n"))
    return pts.select("pixel_id", gx.alias("gx"), gy.alias("gy"))


def _o_gcp_polywarp():
    tr = _gcp6_transform()
    sx, sy = tr.sql("p.e", "p.n")
    return f"""
WITH p AS (
  SELECT o_orderkey AS pixel_id,
         CAST(o_orderkey % 100 AS DOUBLE) AS e,
         CAST((o_orderkey // 100) % 100 AS DOUBLE) AS n
  FROM orders
)
SELECT pixel_id, {sx} AS gx, {sy} AS gy FROM p
"""


# Fixed planar path + mileposts for the linear-referencing driver query
# (geographic=False keeps the parts free of the UTM transcendentals, so
# the whole locate chain is +-*/ and sqrt — exactly oracle-able).
_LR_PATH = [(0.0, 0.0), (13.0, 7.0), (20.0, 3.0), (31.0, 18.0),
            (40.0, 11.0)]


def _lr_parts():
    from lib_gdal_spark.operators import lineref
    repers = [(1000.0, lineref.value(_LR_PATH, 7.0)),
              (1300.0, lineref.value(_LR_PATH, 31.0)),
              (1500.0, lineref.value(_LR_PATH, 49.0))]
    return lineref.create_parts(_LR_PATH, repers, step=100.0,
                                geographic=False)


def _q_lineref_locate(spark, sf_dir):
    # ogrlineref -get_pos distributed (apps/ogrlineref.cpp:980): locate
    # synthetic points against the fixed parts table — broadcast parts,
    # vectorized nearest-segment projection, measure = beg + real/scale
    from lib_gdal_spark.operators import lineref
    k = F.col("o_orderkey")
    pts = _tbl(spark, sf_dir, "orders").select(
        k.alias("pixel_id"),
        ((k % 4001).cast("double") / 97.0).alias("x"),
        (((k / 13).cast("long") % 2003).cast("double") / 97.0).alias("y"))
    out = lineref.locate_df(pts, _lr_parts())
    # the nearest-segment fold is order-dependent at the last ulp
    # (~1e-13 on ~1e3 measures); 6 dp on both sides per CLAUDE.md
    return out.select("pixel_id", F.round("measure", 6).alias("measure"))


def _o_lineref_locate():
    # the same kernel relationally: per-segment constants injected from
    # the same NumPy construction the pandas UDF uses, argmin by
    # (d2, part, segment) = the kernel's strict-< / first-min tie-break
    import numpy as np
    rows = []
    for pi, part in enumerate(_lr_parts()):
        pts = np.asarray(part["pts"], float)
        a, b = pts[:-1], pts[1:]
        d = b - a
        seglen = np.sqrt(d[:, 0] ** 2 + d[:, 1] ** 2)
        cum = np.concatenate([[0.0], np.cumsum(seglen)])[:-1]
        len2 = seglen ** 2
        for si in range(len(a)):
            rows.append(
                f"({pi}, {si}, CAST({a[si, 0]!r} AS DOUBLE), "
                f"CAST({a[si, 1]!r} AS DOUBLE), CAST({d[si, 0]!r} AS "
                f"DOUBLE), CAST({d[si, 1]!r} AS DOUBLE), "
                f"CAST({len2[si]!r} AS DOUBLE), CAST({seglen[si]!r} AS "
                f"DOUBLE), CAST({cum[si]!r} AS DOUBLE), "
                f"CAST({part['beg']!r} AS DOUBLE), "
                f"CAST({part['scale']!r} AS DOUBLE))")
    vals = ",\n  ".join(rows)
    return f"""
WITH p AS (
  SELECT o_orderkey AS pixel_id,
         CAST(o_orderkey % 4001 AS DOUBLE) / CAST(97.0 AS DOUBLE) AS x,
         CAST((o_orderkey // 13) % 2003 AS DOUBLE) / CAST(97.0 AS DOUBLE)
           AS y
  FROM orders
), seg(pi, si, ax, ay, dx, dy, len2, seglen, cum, beg, scale) AS (VALUES
  {vals}
), c AS (
  SELECT pixel_id, pi, si, beg, scale, cum, seglen, x, y, ax, ay, dx, dy,
         LEAST(CAST(1.0 AS DOUBLE), GREATEST(CAST(0.0 AS DOUBLE),
           ((x - ax) * dx + (y - ay) * dy) / len2)) AS t
  FROM p CROSS JOIN seg
), d AS (
  SELECT pixel_id, pi, si,
         beg + (cum + t * seglen) / scale AS m,
         (x - (ax + t * dx)) * (x - (ax + t * dx))
           + (y - (ay + t * dy)) * (y - (ay + t * dy)) AS d2
  FROM c
), r AS (
  SELECT pixel_id, m,
         row_number() OVER (PARTITION BY pixel_id ORDER BY d2, pi, si)
           AS rn
  FROM d
)
SELECT pixel_id, ROUND(m, 6) AS measure FROM r WHERE rn = 1
"""


def _q_retile_assign(spark, sf_dir):
    # gdal_retile tiling scheme (gdal_retile.py:87-103): 101x97 synthetic
    # grid into 32x32 tiles with 8-cell overlap (step 24 -> 4x4 tiles);
    # overlap cells duplicate into every covering tile — bounded
    # sequence explode, all-integer math
    k = F.col("o_orderkey")
    cells = _tbl(spark, sf_dir, "orders").select(
        k.alias("cell_id"),
        (k % 101).alias("bx"),
        (F.lit(96) - (k / 101).cast("long") % 97).alias("by"),
        (k % 251).cast("double").alias("value"))
    return raster.retile(cells, 101, 97, 32, 32, overlap=8)


def _o_retile_assign():
    # same integer bounds; duckdb explodes via unnest(generate_series)
    return """
WITH px AS (
  SELECT o_orderkey AS cell_id,
         o_orderkey % 101 AS rx,
         (o_orderkey // 101) % 97 AS ry,
         CAST(o_orderkey % 251 AS DOUBLE) AS value
  FROM orders
), e1 AS (
  SELECT *, unnest(generate_series(
    GREATEST(0, CAST(ceil((rx - 32 + 1) / 24.0) AS BIGINT)),
    LEAST(3, rx // 24))) AS xi
  FROM px
), e2 AS (
  SELECT *, unnest(generate_series(
    GREATEST(0, CAST(ceil((ry - 32 + 1) / 24.0) AS BIGINT)),
    LEAST(3, ry // 24))) AS yi
  FROM e1
)
SELECT xi + 1 AS tx, yi + 1 AS ty, cell_id,
       rx AS bx, 96 - ry AS by, value
FROM e2
"""


def _q_raster_compare(spark, sf_dir):
    # gdalcompare.py's pixel diff as one aggregate: band A vs a
    # perturbed twin (every 7th cell shifted, every 11th cell dropped)
    k = F.col("o_orderkey")
    base = _tbl(spark, sf_dir, "orders").select(
        (k % 173).alias("bx"), ((k / 173).cast("long") % 131).alias("by"),
        k.alias("k")).groupBy("bx", "by").agg(F.min("k").alias("k"))
    a = base.select("bx", "by", (F.col("k") % 256).cast("double")
                    .alias("value"))
    b = base.filter(F.col("k") % 11 != 0).select(
        "bx", "by",
        ((F.col("k") + F.when(F.col("k") % 7 == 0, 3).otherwise(0))
         % 256).cast("double").alias("value"))
    return raster.compare(a, b)


def _o_raster_compare():
    return """
WITH base AS (
  SELECT o_orderkey % 173 AS bx, (o_orderkey // 173) % 131 AS by,
         min(o_orderkey) AS k
  FROM orders GROUP BY 1, 2
), a AS (
  SELECT bx, by, CAST(k % 256 AS DOUBLE) AS va FROM base
), b AS (
  SELECT bx, by,
         CAST((k + CASE WHEN k % 7 = 0 THEN 3 ELSE 0 END) % 256
              AS DOUBLE) AS vb
  FROM base WHERE k % 11 <> 0
), j AS (
  SELECT a.va, b.vb FROM a FULL OUTER JOIN b USING (bx, by)
)
SELECT count(va) AS cells_a, count(vb) AS cells_b,
       CAST(sum(CASE WHEN va IS NULL OR vb IS NULL OR va <> vb
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_diff,
       max(abs(va - vb)) AS max_abs_diff
FROM j
"""


def _q_dataset_split(spark, sf_dir):
    # deterministic train/val/test assignment (operators/sampling.py):
    # md5 13-hex -> exact 52-bit integer / 2^52, compared to cumulative
    # weights — bit-identical across engines, zero shuffle
    from lib_gdal_spark.operators import sampling
    d = _tbl(spark, sf_dir, "documents").select("doc_id")
    return sampling.dataset_split(d, "doc_id").select("doc_id", "split")


def _o_dataset_split():
    from lib_gdal_spark.operators.sampling import split_thresholds_sql
    case = split_thresholds_sql("doc_id")
    return f"SELECT doc_id, {case} AS split FROM documents"


def _q_source_quota(spark, sf_dir):
    # per-key document cap (domain/crawl budget): deterministic
    # row_number (order by n_chars then doc_id) <= quota
    from lib_gdal_spark.operators import sampling
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "source",
                                                "n_chars")
    out = sampling.host_quota(d, "source", 20, "n_chars", "doc_id")
    return out.select("doc_id", "source",
                      F.col("key_rank").cast("long").alias("key_rank"))


def _o_source_quota():
    return """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS key_rank
  FROM documents
)
SELECT doc_id, source, CAST(key_rank AS BIGINT) AS key_rank
FROM r WHERE key_rank <= 20
"""


def _q_sequence_pack(spark, sf_dir):
    # greedy first-fit context packing: sequential recurrence per hash
    # bucket (buckets independent -> scales with the cluster); the
    # duckdb twin replays the recurrence as a recursive CTE, so the
    # sequential op is still hash-verified exactly
    from lib_gdal_spark.operators import sampling
    d = _tbl(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars") % 1500 + 1).alias("toks"))
    return sampling.sequence_pack(d, "doc_id", "toks", budget=2048,
                                  n_buckets=16)


def _o_sequence_pack():
    # anchor columns CAST explicitly (duckdb recursive-CTE anchor-typing
    # trap, CLAUDE.md); bucket = same md5 % 16 as the engine
    return """
WITH RECURSIVE t AS (
  SELECT doc_id AS id, (n_chars % 1500) + 1 AS tokens,
         ('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 13))
           ::BIGINT % 16 AS bucket
  FROM documents
), r AS (
  SELECT id, CAST(tokens AS BIGINT) AS tokens, bucket,
         row_number() OVER (PARTITION BY bucket ORDER BY id) AS rn
  FROM t
), rec AS (
  SELECT bucket, rn, id, tokens,
         CAST(0 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS off,
         tokens AS acc
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.bucket, r.rn, r.id, r.tokens,
         CASE WHEN rec.acc + r.tokens <= 2048 THEN rec.bin
              ELSE rec.bin + 1 END,
         CASE WHEN rec.acc + r.tokens <= 2048 THEN rec.acc
              ELSE CAST(0 AS BIGINT) END,
         CASE WHEN rec.acc + r.tokens <= 2048 THEN rec.acc + r.tokens
              ELSE r.tokens END
  FROM rec JOIN r ON r.bucket = rec.bucket AND r.rn = rec.rn + 1
)
SELECT id, tokens, bucket, bin, off FROM rec
"""


def _q_dsir_topk(spark, sf_dir):
    # DSIR importance scores (Xie et al. 2023; operators/sampling.py):
    # hashed uni+bigram buckets (md5 13-hex % 512), Laplace-smoothed
    # target(lang='en')-vs-raw log-likelihood ratios, per-doc
    # DECIMAL-folded score. ln() is transcendental -> score rounded 6 dp
    # both sides, top-50 ordered on the ROUNDED score then doc_id (the
    # bm25 discipline).
    from lib_gdal_spark.operators import sampling
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    scores = sampling.dsir_scores(d, d.filter(F.col("lang") == "en"),
                                  n_buckets=512)
    r = scores.select("doc_id", F.round("dsir_score", 6).alias("score"))
    return (r.orderBy(F.col("score").desc(), F.col("doc_id").asc())
             .limit(50))


def _o_dsir_topk():
    return """
WITH tok AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
ng AS (
  SELECT doc_id, lang, ng FROM (
    SELECT doc_id, lang, unnest(t) AS ng FROM tok
    UNION ALL
    SELECT doc_id, lang,
           unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i + 1])) AS ng
    FROM tok
  ) WHERE length(ng) > 0
),
bk AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('dsir|' || ng), 1, 13))::BIGINT % 512
           AS bucket,
         count(*) AS c
  FROM ng GROUP BY 1, 2, 3
),
rc AS (SELECT bucket, sum(c) AS rc FROM bk GROUP BY 1),
tc AS (SELECT bucket, sum(c) AS tc FROM bk WHERE lang = 'en' GROUP BY 1),
tots AS (SELECT (SELECT sum(c) FROM bk) AS rt,
                (SELECT sum(c) FROM bk WHERE lang = 'en') AS tt),
lr AS (
  -- literals in e-notation: duckdb lexes bare decimals as DECIMAL and
  -- the DECIMAL arithmetic diverges from Spark's double tree (CLAUDE.md)
  SELECT rc.bucket,
         ln(((COALESCE(tc.tc, 0) + 1e0) / (tots.tt + 512e0))
            / ((rc.rc + 1e0) / (tots.rt + 512e0))) AS lr
  FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket CROSS JOIN tots
),
sc AS (
  SELECT bk.doc_id,
         CAST(sum(CAST(bk.c * lr.lr AS DECIMAL(38,18))) AS DOUBLE) AS s
  FROM bk JOIN lr ON bk.bucket = lr.bucket
  GROUP BY 1
)
SELECT doc_id, round(s, 6) AS score
FROM sc ORDER BY round(s, 6) DESC, doc_id ASC LIMIT 50
"""


def _q_temperature_resample(spark, sf_dir):
    # mC4/XLM-R temperature rebalancing (operators/sampling.py): per-lang
    # keep rate min(1, frac * sqrt(n_max/n_g)) (alpha=0.5) — integer
    # counts -> one division + sqrt + multiply, all correctly-rounded
    # IEEE ops, so the rate doubles are bit-identical cross-engine; kept
    # iff md5-unit-hash(doc_id) < rate. One tiny dim aggregate with a
    # window max + a broadcast rate join; no corpus-wide shuffle.
    from lib_gdal_spark.operators import sampling
    d = _tbl(spark, sf_dir, "documents").select("doc_id", "lang")
    return (sampling.temperature_resample(d, "lang", "doc_id",
                                          alpha=0.5, frac=0.5)
            .select("doc_id", "lang", "keep_rate"))


def _o_temperature_resample():
    from lib_gdal_spark.operators.sampling import (TEMP_SEED,
                                                   temperature_rate_sql,
                                                   unit_hash_sql)
    ctes = temperature_rate_sql("lang", "documents", alpha=0.5, frac=0.5)
    u = unit_hash_sql("d.doc_id", TEMP_SEED)
    return f"""
WITH {ctes}
SELECT d.doc_id, d.lang, r.keep_rate
FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.grp
WHERE {u} < r.keep_rate
"""


_BM25_TERMS = ["spark", "join", "window", "vector"]


def _q_bm25_topk(spark, sf_dir):
    # Okapi BM25 top-10 over documents (operators/relevance.py): one row
    # per document holding a probe term (per-term counts on the matched
    # tokens, no explode), corpus stats + the 4 docfreqs as ONE broadcast
    # aggregate row, FIXED-order per-doc fold (one slot per term, no
    # shuffle on doc_id), global top-k via orderBy().limit =
    # TakeOrderedAndProject.
    # Only ln() is transcendental -> score rounded 6 dp both sides and
    # the rank ordered on the ROUNDED score then doc_id (CLAUDE.md).
    from lib_gdal_spark.operators import relevance
    return relevance.bm25_topk(_tbl(spark, sf_dir, "documents"),
                               _BM25_TERMS, 10)


def _o_bm25_topk():
    from lib_gdal_spark.operators.relevance import B, K1, K1P1, ONE_MINUS_B
    in_list = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    slots = "\n      + ".join(
        f"COALESCE(MAX(CASE WHEN tok = '{t}' THEN c END), 0.0)"
        for t in _BM25_TERMS)
    # constants repr-injected so duckdb parses the engine's exact doubles
    return f"""
WITH base AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+')
                       AS t FROM documents),
d AS (SELECT doc_id, len(t) AS dl FROM base),
tok AS (SELECT doc_id, dl, unnest(t) AS tok
        FROM (SELECT doc_id, len(t) AS dl, t FROM base)),
tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf FROM tok
       WHERE tok IN ({in_list}) GROUP BY ALL),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_dl FROM d),
dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
c AS (SELECT tf.doc_id, tf.tok,
        ln(1.0 + ((n_docs - df) + 0.5) / (df + 0.5))
        * (tf * {K1P1!r}) / (tf + {K1!r} * ({ONE_MINUS_B!r}
          + {B!r} * (dl / (CAST(tot_dl AS DOUBLE) / n_docs)))) AS c
      FROM tf JOIN dfq ON tf.tok = dfq.tok CROSS JOIN stats),
per_doc AS (SELECT doc_id, ROUND({slots}, 6) AS score
            FROM c GROUP BY doc_id)
SELECT doc_id, score,
       ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
FROM per_doc ORDER BY score DESC, doc_id LIMIT 10
"""


def _q_pmi_topk(spark, sf_dir):
    # top-25 collocations by PMI (operators/relevance.py:pmi_topk):
    # counts + fixed-parenthesization double ratios, 6-dp-rounded ln on
    # both sides, rank on the ROUNDED score then gram (CLAUDE.md)
    from lib_gdal_spark.operators import relevance
    return relevance.pmi_topk(_tbl(spark, sf_dir, "documents"),
                              25, min_count=5)


def _o_pmi_topk():
    return """
WITH base AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t
              FROM documents),
uni AS (SELECT u AS w, COUNT(*) AS c
        FROM (SELECT unnest(t) AS u FROM base) GROUP BY u),
totn AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uni),
ix AS (SELECT t, unnest(generate_series(0, len(t) - 2)) AS i
       FROM base WHERE len(t) >= 2),
big AS (SELECT t[i+1] AS w0, t[i+2] AS w1, COUNT(*) AS cnt
        FROM ix GROUP BY 1, 2),
totm AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_big FROM big),
j AS (SELECT b.w0, b.w1, b.cnt, u0.c AS c0, u1.c AS c1, n_big, n_tok
      FROM big b JOIN uni u0 ON u0.w = b.w0
                 JOIN uni u1 ON u1.w = b.w1, totm, totn
      WHERE b.cnt >= 5),
s AS (SELECT w0 || ' ' || w1 AS gram, cnt,
             ROUND(ln((CAST(cnt AS DOUBLE) / n_big) /
                      ((CAST(c0 AS DOUBLE) / n_tok)
                       * (CAST(c1 AS DOUBLE) / n_tok))), 6) AS pmi
      FROM j)
SELECT gram, cnt, pmi,
       ROW_NUMBER() OVER (ORDER BY pmi DESC, gram) AS rank
FROM s ORDER BY pmi DESC, gram LIMIT 25
"""


def _q_doc_cosine_pairs(spark, sf_dir):
    # count-vector cosine near-dup pairs over trigram shingles
    # (relevance.cosine_pairs): INTEGER dot/norms + exactly-rounded
    # sqrt/divide -> bit-exact with no rounding tricks; shingle space
    # keeps the term-pivot self-join to near-duplicate candidates
    from lib_gdal_spark.operators import relevance
    return relevance.cosine_pairs(_tbl(spark, sf_dir, "documents"),
                                  threshold=0.5, ngram=3, k=50)


def _o_doc_cosine_pairs():
    return """
WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS t
              FROM documents),
ix AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 3)) AS i
       FROM base WHERE len(t) >= 3),
tf AS (SELECT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS term,
              COUNT(*) AS tf
       FROM ix GROUP BY 1, 2),
norms AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS ss
          FROM tf GROUP BY doc_id),
dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
         FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
s AS (SELECT id_a, id_b, dot, dot / (sqrt(na.ss) * sqrt(nb.ss)) AS cos
      FROM dots JOIN norms na ON na.doc_id = dots.id_a
                JOIN norms nb ON nb.doc_id = dots.id_b)
SELECT id_a, id_b, dot, cos,
       ROW_NUMBER() OVER (ORDER BY cos DESC, id_a, id_b) AS rank
FROM s WHERE cos >= 0.5 ORDER BY cos DESC, id_a, id_b LIMIT 50
"""


def _q_ngram_topk(spark, sf_dir):
    # corpus-wide top-25 word trigrams (boilerplate detection): each
    # doc's trigrams from its own row -> partial-agg count; integer
    # counts + lexicographic tie-break = exact
    from lib_gdal_spark.operators import relevance
    return relevance.ngram_topk(_tbl(spark, sf_dir, "documents"), 3, 25)


def _o_ngram_topk():
    return """
WITH base AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t
              FROM documents),
ix AS (SELECT t, unnest(generate_series(0, len(t) - 3)) AS i
       FROM base WHERE len(t) >= 3),
g AS (SELECT t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS gram FROM ix),
cnts AS (SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram)
SELECT gram, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, gram) AS rank
FROM cnts ORDER BY cnt DESC, gram LIMIT 25
"""


def _q_doc_chunks(spark, sf_dir):
    # sliding-window context chunking (operators/sampling.py): windows of
    # 64 tokens every 48, built INSIDE a transform() lambda over a staged
    # token array so exploded rows stay narrow; md5 window fingerprints
    # are bit-identical cross-engine -> fully exact, zero shuffles
    from lib_gdal_spark.operators import sampling
    return sampling.chunk_documents(_tbl(spark, sf_dir, "documents"),
                                    chunk=64, stride=48)


def _o_doc_chunks():
    return """
WITH base AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+')
                       AS t FROM documents),
d AS (SELECT doc_id, t, len(t) AS n FROM base WHERE len(t) > 0),
s AS (SELECT doc_id, t, n,
             unnest(generate_series(0, n - 1, 48)) AS start_tok FROM d)
SELECT doc_id, (start_tok // 48) AS chunk_idx, start_tok,
       LEAST(64, n - start_tok) AS n_chunk_tokens,
       md5(array_to_string(t[start_tok + 1 : start_tok
                             + LEAST(64, n - start_tok)], ' '))
         AS chunk_fp
FROM s
"""


def _q_exact_substr(spark, sf_dir):
    # ExactSubstr dedup (Lee et al. 2022) at 5-gram resolution: maximal
    # corpus-duplicated token spans per document (operators/dedup.py).
    # md5-hash k-grams -> corpus counts -> duplicated positions ->
    # gaps-and-islands merge. All integers + md5 -> exact oracle.
    return dedup.exact_substr_spans(_tbl(spark, sf_dir, "documents"), k=5)


def _o_exact_substr():
    return """
WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+')
                    AS tk FROM documents),
g AS (SELECT doc_id, tk, len(tk) - 4 AS ng FROM t WHERE len(tk) >= 5),
ix AS (SELECT doc_id, tk, unnest(generate_series(0, ng - 1)) AS pos FROM g),
h AS (SELECT doc_id, pos,
        ('0x' || substr(md5(array_to_string(tk[pos + 1 : pos + 5], ' ')),
                        1, 13))::BIGINT AS h
      FROM ix),
c AS (SELECT h, COUNT(*) AS occ FROM h GROUP BY h),
dup AS (SELECT doc_id, pos FROM h JOIN c USING (h) WHERE occ >= 2),
isl AS (SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                 AS grp
        FROM dup)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) - MIN(pos) + 5 AS span_len
FROM isl GROUP BY doc_id, grp
"""


#: fixed merge ladder for the bpe_encode_docs key (rank order matters —
#: each rank sees the previous rank's output, exactly the trained-merge
#: replay path of bpe.bpe_encode)
_BPE_ENCODE_MERGES = [
    ("t", "h"), ("th", "e"), ("the", "</w>"), ("i", "n"),
    ("a", "n"), ("an", "d"), ("e", "r"), ("o", "n"),
]


def _q_bpe_encode_docs(spark, sf_dir):
    # BPE tokenizer APPLICATION at corpus scale (operators/bpe.py
    # bpe_encode; the apply-merges half of Sennrich's algorithm —
    # training has its own key, bpe_pairs): symbolize every word to
    # chars + </w>, then apply the fixed 8-merge ladder with the
    # left-to-right skip-next-after-merge fold, one corpus scan, no
    # shuffle before the final projection. The merge list is constant,
    # so the duckdb twin replays each rank as one string REPLACE over a
    # '|sym|' doubled-delimiter encoding (disjoint match sites make
    # replace() exactly the greedy fold).
    from lib_gdal_spark.operators import bpe
    merges = [(a, b, 0) for a, b in _BPE_ENCODE_MERGES]
    return bpe.bpe_encode(_tbl(spark, sf_dir, "documents"), merges)


def _o_bpe_encode_docs():
    enc = ("list_aggregate(list_transform(generate_series(1, "
           "length(word)), i -> '|' || word[i] || '|'), 'string_agg', '')"
           " || '|</w>|'")
    s = enc
    for a, b in _BPE_ENCODE_MERGES:
        s = f"replace({s}, '|{a}||{b}|', '|{a}{b}|')"
    return f"""
WITH base AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+')
                       AS t FROM documents),
w AS (SELECT doc_id, unnest(t) AS word FROM base),
m AS (SELECT doc_id, {s} AS s FROM w),
per_doc AS (
  SELECT doc_id,
         CAST(SUM((length(s) - length(replace(s, '|', ''))) // 2)
              AS BIGINT) AS n_symbols
  FROM m GROUP BY doc_id)
SELECT base.doc_id, CAST(len(base.t) AS INTEGER) AS n_tokens,
       COALESCE(per_doc.n_symbols, 0) AS n_symbols
FROM base LEFT JOIN per_doc ON base.doc_id = per_doc.doc_id
"""


def _q_bpe_pairs(spark, sf_dir):
    # BPE tokenizer training, iteration-1 window (operators/bpe.py):
    # top-20 adjacent char-pair counts over the word vocabulary (chars +
    # the </w> end-of-word marker), (cnt desc, a, b) total order. The
    # full iterative trainer replays the Sennrich toy-corpus merges in
    # tests/test_bpe.py; the first iteration is the oracle-able window.
    from lib_gdal_spark.operators import bpe
    return bpe.pair_counts_topk(_tbl(spark, sf_dir, "documents"), 20)


def _o_bpe_pairs():
    return """
WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                       AS word FROM documents),
v AS (SELECT word, COUNT(*) AS freq FROM toks GROUP BY word),
ix AS (SELECT word, freq,
              unnest(generate_series(1, length(word))) AS i FROM v),
p AS (SELECT substr(word, i, 1) AS a,
             CASE WHEN i < length(word) THEN substr(word, i + 1, 1)
                  ELSE '</w>' END AS b,
             freq FROM ix),
c AS (SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt FROM p GROUP BY a, b)
SELECT a, b, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, a, b) AS rank
FROM c ORDER BY cnt DESC, a, b LIMIT 20
"""


def _q_lm_xent(spark, sf_dir):
    # CCNet-style LM quality proxy: per-doc cross-entropy under the
    # corpus's own add-one bigram model (operators/textops.py). Integer
    # counts -> bit-identical ln arguments; per-doc fold rounded 6 dp.
    return textops.lm_crossentropy(_tbl(spark, sf_dir, "documents"))


def _o_lm_xent():
    return """
WITH base AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+')
                       AS t FROM documents),
d AS (SELECT doc_id, t FROM base WHERE len(t) >= 2),
ix AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 2)) AS i FROM d),
bg AS (SELECT doc_id, t[i+1] AS w1, t[i+2] AS w2 FROM ix),
big AS (SELECT doc_id, w1, w2, COUNT(*) AS n FROM bg GROUP BY ALL),
c12 AS (SELECT w1, w2, SUM(n) AS c12 FROM big GROUP BY ALL),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
v AS (SELECT COUNT(*) AS vocab FROM
       (SELECT w1 AS w FROM c12 UNION SELECT w2 FROM c12)),
lm AS (SELECT c12.w1, c12.w2,
              ln((c12 + 1.0) / (c1 + CAST(vocab AS DOUBLE))) AS logp
       FROM c12 JOIN c1 USING (w1) CROSS JOIN v)
SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
       ROUND(-CAST(SUM(CAST(n * logp AS DECIMAL(38,18))) AS DOUBLE)
             / CAST(SUM(n) AS DOUBLE), 6) AS xent
FROM big JOIN lm USING (w1, w2) GROUP BY doc_id
"""


def _q_neighbors_median(spark, sf_dir):
    # gdal raster neighbors -kernel gaussian-3x3 -method median
    # (vrtfilters.cpp nth_element semantics: lower middle / mean of the
    # two middles over the WEIGHTED window values). Grid: DENSE 16x16
    # doc-count raster (the lat/lon lattice never forms complete 3x3
    # windows — degenerate-constant trap); integer counts x integer
    # coefficients -> exact; complete interior windows only (14x14
    # rows at every sf).
    base = (_tbl(spark, sf_dir, "documents")
            .groupBy((F.col("doc_id") % 16).alias("bx"),
                     F.expr("(doc_id div 16) % 16").alias("by"))
            .agg(F.count("*").cast("double").alias("value")))
    return focal.neighbors(base, "gaussian-3x3", "median")


def _o_neighbors_median():
    from lib_gdal_spark.operators.focal import NEIGHBOR_KERNELS
    size, coefs = NEIGHBOR_KERNELS["gaussian-3x3"]
    r = size // 2
    taps = ", ".join(
        f"({jj}, {-ii}, {coefs[(ii + r) * size + (jj + r)]})"
        for ii in range(-r, r + 1) for jj in range(-r, r + 1))
    return f"""
WITH base AS (
  SELECT doc_id % 16 AS bx, (doc_id // 16) % 16 AS "by",
         CAST(count(*) AS DOUBLE) AS value
  FROM documents GROUP BY 1, 2
),
taps(dx, dy, coef) AS (VALUES {taps}),
contrib AS (
  SELECT b.bx - t.dx AS bx, b."by" - t.dy AS "by",
         b.value * t.coef AS v
  FROM base b, taps t
),
ranked AS (
  SELECT bx, "by", v,
         row_number() OVER (PARTITION BY bx, "by" ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY bx, "by") AS n
  FROM contrib
),
med AS (
  SELECT bx, "by", avg(v) AS neighbors_median, max(n) AS n
  FROM ranked
  WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
     OR rn = CAST(ceil((n + 1) / 2.0) AS BIGINT)
  GROUP BY bx, "by"
)
SELECT b.bx, b."by", b.value, m.neighbors_median
FROM base b JOIN med m ON b.bx = m.bx AND b."by" = m."by"
WHERE m.n = 9
"""


def _q_blend_srcover(spark, sf_dir):
    # gdal raster blend -operator src-over (apps/gdalalg_raster_blend.cpp
    # :1176-1212 general scalar path): RGBA bytes synthesized from doc_id,
    # opacity 60. Pure integer math -> exact oracle; one equi-join.
    from lib_gdal_spark.operators import blend
    d = _tbl(spark, sf_dir, "documents")
    color = d.select(F.col("doc_id").alias("pid"),
                     (F.col("doc_id") * 37 % 256).alias("r"),
                     (F.col("doc_id") * 59 % 256).alias("g"),
                     (F.col("doc_id") * 83 % 256).alias("b"),
                     (F.col("doc_id") * 29 % 256).alias("a"))
    over = d.select(F.col("doc_id").alias("pid"),
                    (F.col("doc_id") * 41 % 256).alias("r"),
                    (F.col("doc_id") * 67 % 256).alias("g"),
                    (F.col("doc_id") * 97 % 256).alias("b"),
                    (F.col("doc_id") * 31 % 256).alias("a"))
    return blend.blend_srcover(color, over, opacity=60, key="pid")


def _o_blend_srcover():
    from lib_gdal_spark.operators.blend import opacity_255
    op255 = opacity_255(60)
    bands = []
    for name, cm, om in (("r", 37, 41), ("g", 59, 67), ("b", 83, 97)):
        num = (f"((doc_id * {om} % 256) * oa + (doc_id * {cm} % 256) * samul"
               f" + 255) // 256")
        bands.append(
            f"LEAST(CASE WHEN dsta <> 0 AND dsta <> 255 "
            f"THEN (({num}) * 255 + dsta // 2) // dsta "
            f"ELSE ({num}) END, 255) AS {name}")
    sel = ",\n       ".join(bands)
    return f"""
WITH px AS (
  SELECT doc_id,
         ((doc_id * 31 % 256) * {op255} + 255) // 256 AS oa
  FROM documents
), t AS (
  SELECT doc_id, oa,
         ((doc_id * 29 % 256) * (255 - oa) + 255) // 256 AS samul
  FROM px
), u AS (SELECT doc_id, oa, samul, oa + samul AS dsta FROM t)
SELECT doc_id AS pid,
       {sel},
       dsta AS a
FROM u
"""


def _q_hist_equalize(spark, sf_dir):
    # gdalenhance -equalize (apps/gdalenhance.cpp): byte band synthesized
    # from document text lengths; histogram -> half-bin cumulative ->
    # 256-entry LUT -> pure-Column element_at mapping. All integer math;
    # the duckdb twin recomputes the LUT relationally (no injection).
    from lib_gdal_spark.operators import enhance
    d = _tbl(spark, sf_dir, "documents").select(
        "doc_id", (F.length("text") % 256).cast("double").alias("value"))
    out = enhance.equalize(d)
    return out.select("doc_id", F.col("value").cast("long").alias("value"),
                      "equalized")


def _o_hist_equalize():
    # the reference's integer folds, relationally: cum[i] = running sum
    # of preceding bins + cnt//2; LUT[i] = clamp(cum[i]*256 // total)
    # (nHistSize == nLUTBins == 256 so iHist == iLUT); extremes zeroed
    return """
WITH px AS (
  SELECT doc_id, length(text) % 256 AS v FROM documents
), hist AS (
  SELECT v AS bin, COUNT(*) AS cnt FROM px GROUP BY v
), hfull AS (
  SELECT t.i AS bin,
         CASE WHEN t.i = 0 OR t.i = 255 THEN 0
              ELSE COALESCE(hist.cnt, 0) END AS cnt
  FROM range(0, 256) t(i) LEFT JOIN hist ON hist.bin = t.i
), cum AS (
  SELECT bin,
         COALESCE(SUM(cnt) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt // 2 AS cumh,
         SUM(cnt) OVER () AS total
  FROM hfull
), lut AS (
  SELECT bin,
         LEAST(255, GREATEST(0,
           (cumh * 256) // (CASE WHEN total = 0 THEN 1 ELSE total END)))
           AS lv
  FROM cum
)
SELECT px.doc_id,
       CAST(px.v AS BIGINT) AS value,
       CAST(lut.lv AS BIGINT) AS equalized
FROM px JOIN lut ON lut.bin = px.v
"""


# --- rotated-geotransform warp (round 4) --------------------------------
# src geotransform with nonzero shear terms (det = -1, all coefficients
# dyadic so the inverse is exact); dst axis-aligned over the rotated
# square's interior. Exercises GDALInvGeoTransform's general
# adjoint-over-determinant path (gdaltransformer.cpp:4585-4608) through
# warp_affine's scanline chain.
_WR_SRC_GT = (0.0, 0.8, 0.6, 0.0, 0.6, -0.8)
_WR_DST_GT = (5.0, 1.0, 0.0, 15.0, 0.0, -1.0)


def _wr_cells(spark, sf_dir):
    return (_tbl(spark, sf_dir, "documents")
            .groupBy((F.col("doc_id") % 32).alias("bx"),
                     F.expr("(doc_id div 32) % 32").alias("by"))
            .agg((F.min("n_chars") % 200).cast("double").alias("value")))


def _q_warp_rotate(spark, sf_dir):
    # gdalwarp with a ROTATED source geotransform (gt[2]/gt[4] != 0):
    # the general affine inverse composed with the approx-transformer
    # scanline chain; near kernel -> pure +-*/floor, exactly oracle-able
    # (rotated replays: tests/test_warp_replay.py::TestRotatedGeotransform)
    return warp.warp_affine(_wr_cells(spark, sf_dir), (32, 32), (32, 32),
                            _WR_SRC_GT, _WR_DST_GT, "near")


def _o_warp_rotate() -> str:
    from lib_gdal_spark.operators.warp import invert_geotransform

    d0, d1, d2, d3, d4, d5 = _WR_DST_GT
    i0, i1, i2, i3, i4, i5 = invert_geotransform(_WR_SRC_GT)

    def dl(x):
        return f"{float(x):.17e}::DOUBLE"

    # the same expression trees as warp_affine: endpoint transforms at
    # xp = 0.5 and xp = DW-1+0.5, then per-scanline linear interpolation
    def pair(xp, yp):
        gx = f"({dl(d0)} + {xp} * {dl(d1)} + {yp} * {dl(d2)})"
        gy = f"({dl(d3)} + {xp} * {dl(d4)} + {yp} * {dl(d5)})"
        return (f"({dl(i0)} + {gx} * {dl(i1)} + {gy} * {dl(i2)})",
                f"({dl(i3)} + {gx} * {dl(i4)} + {gy} * {dl(i5)})")

    x0s, y0s = pair("5e-1", "yp")
    xns, yns = pair(dl(31.5), "yp")
    return f"""
WITH d AS (SELECT CAST(doc_id % 32 AS BIGINT) AS bx,
                  CAST(floor(doc_id/32.0) AS BIGINT) % 32 AS "by", n_chars
           FROM documents),
cells AS (SELECT bx, "by", CAST(min(n_chars) % 200 AS DOUBLE) AS v
          FROM d GROUP BY 1, 2),
src AS (SELECT bx AS scol, 31 - "by" AS srow, v FROM cells),
pix AS (SELECT x.xd, y.yd
        FROM (SELECT unnest(generate_series(0, 31)) AS xd) x,
             (SELECT unnest(generate_series(0, 31)) AS yd) y),
co AS (SELECT xd, yd, CAST(yd AS DOUBLE) + 5e-1 AS yp FROM pix),
sc AS (SELECT xd, yd,
        {x0s} + (({xns} - {x0s}) / {dl(31.0)}) * CAST(xd AS DOUBLE) AS sx,
        {y0s} + (({yns} - {y0s}) / {dl(31.0)}) * CAST(xd AS DOUBLE) AS sy
       FROM co),
nn AS (SELECT xd, yd,
        CAST(floor(sx + 1e-10) AS BIGINT) AS nx0,
        CAST(floor(sy + 1e-10) AS BIGINT) AS ny0 FROM sc),
cl AS (SELECT xd, yd,
        CASE WHEN nx0 = 32 THEN 31 ELSE nx0 END AS nx,
        CASE WHEN ny0 = 32 THEN 31 ELSE ny0 END AS ny FROM nn)
SELECT cl.xd AS bx, 31 - cl.yd AS "by", floor(s.v + 5e-1) AS value
FROM cl JOIN src s ON s.scol = cl.nx AND s.srow = cl.ny
WHERE cl.nx >= 0 AND cl.nx < 32 AND cl.ny >= 0 AND cl.ny < 32
"""


# --- gdalwarp -order 1 from GCPs (round 4) ------------------------------
# rotated affine GCP frame: geo = (100 + 2.5*px + 0.5*ln,
#                                  220 + 0.5*px - 2.5*ln); dst grid
# axis-aligned over the rotated square (all dst-side constants dyadic)
_WG_GCPS = [(0.0, 0.0, 100.0, 220.0), (32.0, 0.0, 180.0, 236.0),
            (32.0, 32.0, 196.0, 156.0), (0.0, 32.0, 116.0, 140.0)]
_WG_DST_GT = (96.0, 3.25, 0.0, 240.0, 0.0, -3.25)

#: 6 exact-decimal GCPs for the homography key: a keystone quadrilateral
#: (genuinely projective — h7/h8 nonzero) plus two interior points that
#: make the DLT system overdetermined, exercising the reference's least
#: squares path (alg/gdal_homography.cpp:121 "perform least squares fit
#: as a homography").
_HG_GCPS = [(0.0, 0.0, 0.0, 0.0), (100.0, 0.0, 100.0, 0.0),
            (100.0, 100.0, 80.0, 90.0), (0.0, 100.0, 20.0, 90.0),
            (50.0, 50.0, 50.0, 47.0), (25.0, 75.0, 31.0, 69.0)]


def _q_homography_project(spark, sf_dir):
    # GDALGCPsToHomography + GDALApplyHomography
    # (alg/gdal_homography.cpp:121-141): >=4-GCP projective DLT least
    # squares (unit-scale normalization, h6 pinned to 1, hour-glass fold
    # rejection) fitted driver-side from _HG_GCPS, then applied to a
    # prime-denominator synthetic point table as pure Column rational
    # math — broadcast constants, zero Exchanges, whole-stage codegen.
    # Exactly oracle-able: the oracle injects the SAME fitted
    # coefficients (.17e) into the SAME-shaped rational expression (+ *
    # / only, identical associativity). Fit goldens (all 7 reference
    # expectations): tests/test_homography.py.
    from lib_gdal_spark.geo.homography import (apply_homography_cols,
                                               gcps_to_homography)

    h = gcps_to_homography(_HG_GCPS)
    pts = _tbl(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("gid"),
        (((F.col("doc_id") * 13 + 5) % 997).cast("double")
         * F.lit(100.0 / 997.0)).alias("p"),
        (((F.col("doc_id") * 7 + 3) % 991).cast("double")
         * F.lit(100.0 / 991.0)).alias("l"),
    )
    hx, hy = apply_homography_cols(h, F.col("p"), F.col("l"))
    return pts.select("gid", hx.alias("hx"), hy.alias("hy"))


def _o_homography_project() -> str:
    # duckdb twin: the IDENTICAL rational fold over the IDENTICAL fitted
    # coefficients, injected as e-notation literals (CLAUDE.md: e-notation
    # lexes as DOUBLE directly — no DECIMAL double-rounding).
    from lib_gdal_spark.geo.homography import gcps_to_homography

    h = gcps_to_homography(_HG_GCPS)

    def dl(x):
        return f"{float(x):.17e}"

    den = f"({dl(h[6])} + p * {dl(h[7])} + l * {dl(h[8])})"
    return f"""
WITH pts AS (
  SELECT doc_id AS gid,
         CAST((doc_id * 13 + 5) % 997 AS DOUBLE) * {dl(100.0 / 997.0)} AS p,
         CAST((doc_id * 7 + 3) % 991 AS DOUBLE) * {dl(100.0 / 991.0)} AS l
  FROM documents)
SELECT gid,
       ({dl(h[0])} + p * {dl(h[1])} + l * {dl(h[2])}) / {den} AS hx,
       ({dl(h[3])} + p * {dl(h[4])} + l * {dl(h[5])}) / {den} AS hy
FROM pts
"""


def _q_warp_gcp(spark, sf_dir):
    # gdalwarp -order 1 (GDALCreateGCPTransformer, alg/gdal_crs.cpp):
    # dst pixel centers -> dst geo -> the fitted REVERSE polynomial
    # (broadcast constants, pure Column math) -> GWK near pick. The whole
    # chain is +-*/ and floor, exactly oracle-able by injecting the
    # lstsq-fitted coefficients (gcptransform.sql mirrors the CRS_georef
    # fold op-for-op). Checksum replays:
    # tests/test_warp_replay.py::TestWarpFromGcps (cs 4672 x3).
    return warp.warp_gcp(_wr_cells(spark, sf_dir), (32, 32), _WG_GCPS,
                         method="poly1", dst_size=(32, 32),
                         dst_gt=_WG_DST_GT)


def _o_warp_gcp() -> str:
    from lib_gdal_spark.geo.gcptransform import GCPPolynomialTransform

    tr = GCPPolynomialTransform(_WG_GCPS, order=1)
    g0, g1, g2, g3, g4, g5 = _WG_DST_GT

    def dl(x):
        return f"{float(x):.17e}"

    # Spark's fold: (g0 + (xd+0.5)*g1) + (yd+0.5)*g2
    gx = (f"(({dl(g0)} + (CAST(xd AS DOUBLE) + 5e-1) * {dl(g1)})"
          f" + (CAST(yd AS DOUBLE) + 5e-1) * {dl(g2)})")
    gy = (f"(({dl(g3)} + (CAST(xd AS DOUBLE) + 5e-1) * {dl(g4)})"
          f" + (CAST(yd AS DOUBLE) + 5e-1) * {dl(g5)})")
    sx, sy = tr.sql(gx, gy, inverse=True)
    return f"""
WITH d AS (SELECT CAST(doc_id % 32 AS BIGINT) AS bx,
                  CAST(floor(doc_id/32.0) AS BIGINT) % 32 AS "by", n_chars
           FROM documents),
cells AS (SELECT bx, "by", CAST(min(n_chars) % 200 AS DOUBLE) AS v
          FROM d GROUP BY 1, 2),
src AS (SELECT bx AS scol, 31 - "by" AS srow, v FROM cells),
pix AS (SELECT x.xd, y.yd
        FROM (SELECT unnest(generate_series(0, 31)) AS xd) x,
             (SELECT unnest(generate_series(0, 31)) AS yd) y),
sc AS (SELECT xd, yd, {sx} AS sxp, {sy} AS syp FROM pix),
nn AS (SELECT xd, yd,
        CAST(floor(sxp + 1e-10) AS BIGINT) AS ix,
        CAST(floor(syp + 1e-10) AS BIGINT) AS iy FROM sc)
SELECT nn.xd AS bx, 31 - nn.yd AS "by",
       floor(least(2.55e2, greatest(0e0, s.v)) + 5e-1) AS value
FROM nn JOIN src s ON s.scol = nn.ix AND s.srow = nn.iy
WHERE nn.ix >= 0 AND nn.ix < 32 AND nn.iy >= 0 AND nn.iy < 32
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """ORDERING CONTRACT: the driver's correctness sweep runs entries in
    dict order and caps at 50/round (proven rounds 1-4). Rotation rule:
    never-swept or changed queries first, then the queries whose newest
    driver row is OLDEST. The round-5 window is _SWEEP_FIRST: the 19
    keys new this round (viewshed_cumulative, coverage_check_gaps and
    bpe_encode_docs,
    dxf_roundtrip and netcdf_roundtrip plus 7 format-codec roundtrips
    from the final session, then proj_datum/nearblack_collar/
    coverage_gaps/rat_classify/fgb_roundtrip/homography_project/
    dted_roundtrip) take the front — never-swept keys outrank
    staleness — followed by the r1 cohort; the 14 keys past
    the 50-cap (tile_pyramid .. minhash_signatures, all green r4 or
    earlier) stay un-reswept this round, the accepted cost of sweeping
    the new keys. The body dict below keeps the stable r4
    grouping; the _SWEEP_FIRST reorder is applied on return.
    Everything past the cap stays in the local parity sweep every
    session.
    """
    q = {
        # ---- (1) no green hash row after r3: sweep FIRST ----
        "lm_xent": _q_lm_xent,                     # oracle HUGEINT fixed +
                                                   # DECIMAL per-term fold
        "bpe_pairs": _q_bpe_pairs,                 # oracle HUGEINT fixed
        "bpe_encode_docs": _q_bpe_encode_docs,     # tokenizer application
        "polygonize_rings": _q_polygonize_rings,   # oracle HUGEINT fixed
        "dem_hillshade": _q_dem_hillshade,         # oracle newer than last row
        "grid_linear": _q_grid_linear,             # oracle newer than last row
        "semdedup_docs": _q_semdedup_docs,
        "cluster_prune": _q_cluster_prune,
        "temperature_resample": _q_temperature_resample,
        "grid_metrics_pts": _q_grid_metrics_pts,
        "dsir_topk": _q_dsir_topk,
        "url_canonical": _q_url_canonical,
        "graph_sssp_blocked": _q_graph_sssp_blocked,
        "rpc_project": _q_rpc_project,
        "tile_render": _q_tile_render,
        # ---- (2) new this round ----
        "warp_rotate": _q_warp_rotate,             # rotated geotransform
        "warp_gcp": _q_warp_gcp,                   # gdalwarp -order 1
        "mdim_resample_mask": _q_mdim_resample_mask,  # GetResampled+GetMask
        "curve_stroke": _q_curve_stroke,           # CircularString stroking
        "proj_conic": _q_proj_conic,               # LCC/Albers/PolarStereo
        "proj_datum": _q_proj_datum,               # Helmert +towgs84 hops
        "nearblack_collar": _q_nearblack_collar,   # twopasses collar removal
        "coverage_gaps": _q_coverage_gaps,         # clean-coverage gap merge
        "coverage_check_gaps": _q_coverage_check_gaps,  # check-coverage gaps
        "rat_classify": _q_rat_classify,           # raster attribute table
        "homography_project": _q_homography_project,  # GCPsToHomography
        "mdim_arith": _q_mdim_arith,               # GetUnscaled + arith
        "gpkg_roundtrip": _q_gpkg_roundtrip,       # GeoPackage src+sink
        "mbtiles_roundtrip": _q_mbtiles_roundtrip,  # MBTiles src+sink
        "vrt_mosaic": _q_vrt_mosaic,               # VRT composition
        "tile_geodetic": _q_tile_geodetic,         # geodetic profile
        "unimax_alloc": _q_unimax_alloc,           # UniMax sampling
        "pmtiles_roundtrip": _q_pmtiles_roundtrip,  # PMTiles src+sink
        "ogr_special_fields": _q_ogr_special_fields,  # FID/OGR_GEOMETRY/..
        "hybrid_rrf": _q_hybrid_rrf,               # BM25+cosine RRF
        "quality_classifier": _q_quality_classifier,  # fastText-style gate
        "geoloc_forward": _q_geoloc_forward,       # GEOLOC array transformer
        "geoloc_roundtrip": _q_geoloc_roundtrip,   # exact inverse bilinear
        "hll_docs": _q_hll_docs,                   # md5 HLL registers
        "kmv_docs": _q_kmv_docs,                   # k-minimum-values sketch
        "rraster_roundtrip": _q_rraster_roundtrip,  # R raster .grd/.gri
        "zarr_roundtrip": _q_zarr_roundtrip,       # Zarr v2 chunk store
        "zmap_roundtrip": _q_zmap_roundtrip,       # ZMap column-major ASCII
        "hf2_roundtrip": _q_hf2_roundtrip,         # HF2 tiled delta (gz)
        "saga_roundtrip": _q_saga_roundtrip,       # SAGA .sgrd/.sdat
        "rst_roundtrip": _q_rst_roundtrip,         # Idrisi RST Int16
        "sigdem_roundtrip": _q_sigdem_roundtrip,   # SIGDEM scaled Int32
        "s2_cell_assign": _q_s2_cell_assign,       # S2 Hilbert cell index
        "s2_knn_sphere": _q_s2_knn_sphere,         # spherical ring kNN
        "s2_cap_join": _q_s2_cap_join,             # spherical range join
        "ntv2_shift": _q_ntv2_shift,               # NTv2 grid datum shift
        "gtx_roundtrip": _q_gtx_roundtrip,         # GTX vshift src+sink
        "byn_roundtrip": _q_byn_roundtrip,         # BYN geoid src+sink
        "leveller_roundtrip": _q_leveller_roundtrip,  # Leveller v7 loop
        "vicar_roundtrip": _q_vicar_roundtrip,     # VICAR label+records
        "georss_roundtrip": _q_georss_roundtrip,   # GeoRSS RSS feed loop
        "rmf_roundtrip": _q_rmf_roundtrip,         # RMF/Panorama MTW loop
        "ilwis_roundtrip": _q_ilwis_roundtrip,     # ILWIS ODF+raw loop
        "coverage_check": _q_coverage_check,       # GEOS coverage validator
        "coverage_simplify": _q_coverage_simplify,  # coverage simplifier
        "coverage_clean": _q_coverage_clean,       # coverage cleaner
        "shp_roundtrip": _q_shp_roundtrip,         # Shapefile src+sink
        "fgb_roundtrip": _q_fgb_roundtrip,         # FlatGeobuf src+sink
        "dted_roundtrip": _q_dted_roundtrip,       # DTED src+sink
        "gif_roundtrip": _q_gif_roundtrip,         # GIF src+sink
        "surfer_roundtrip": _q_surfer_roundtrip,   # Surfer GSAG/GSBG/GS7BG
        "geojson_roundtrip": _q_geojson_roundtrip,  # GeoJSONSeq src+sink
        "geocsv_roundtrip": _q_geocsv_roundtrip,   # CSV-WKT src+sink
        "kml_roundtrip": _q_kml_roundtrip,         # KML src+sink
        "gpx_roundtrip": _q_gpx_roundtrip,         # GPX src+sink
        "gml_roundtrip": _q_gml_roundtrip,         # GML src+sink
        "mif_roundtrip": _q_mif_roundtrip,         # MapInfo MIF/MID src+sink
        "gmt_roundtrip": _q_gmt_roundtrip,         # GMT ASCII src+sink
        "dxf_roundtrip": _q_dxf_roundtrip,         # AutoCAD DXF src+sink
        "netcdf_roundtrip": _q_netcdf_roundtrip,   # netCDF classic src+sink
        "topojson_read": _q_topojson_read,         # TopoJSON source
        # ---- (3) round-1-verified, two rounds stale: refresh ----
        "tile_assign": _q_tile_assign,
        "pip_triangle_join": _q_pip_triangle,
        "sjoin_left": _q_sjoin_left,
        "sjoin_update": _q_sjoin_update,
        "sjoin_clip": _q_sjoin_clip,
        "sjoin_erase": _q_sjoin_erase,
        "contour_multi": _q_contour_multi,
        "interp_cubic": _q_interp_cubic,
        "interp_bilinear": _q_interp_bilinear,
        "interp_nearest": _q_interp_nearest,
        "dem_slope": _q_dem_slope,
        "dem_tpi": _q_dem_tpi,
        "dem_roughness": _q_dem_roughness,
        "dem_aspect": _q_dem_aspect,
        "graph_sssp": _q_graph_sssp,
        "graph_components": _q_graph_components,
        "fillnodata_idw": _q_fillnodata,
        "proximity_dist": _q_proximity,
        "grid_idw": _q_grid_idw,
        "grid_metrics": _q_grid_metrics,
        "grid_nearest": _q_grid_nearest,
        "overview_gauss": _q_overview_gauss,
        "overview_cubic": _q_overview_cubic,
        "overview_avg": _q_overview_avg,
        "focal_mean": _q_focal_mean,
        "warp_avg": _q_warp_avg,
        "zonal_stats": _q_zonal_stats,
        "zonal_mode": _q_zonal_mode,
        "zonal_weighted": _q_zonal_weighted,
        "events_sliding": _q_events_sliding,
        # -------- 50-cap boundary: positions 51+ below --------
        # ---- (3b) r1-verified tail pushed past the cap by this
        # ----      round's six new queries; rotates first in round 5
        "rasterize_rects": _q_rasterize,
        "footprint_boundary": _q_footprint,
        "raster_calc": _q_raster_calc,
        "histogram": _q_histogram,
        "ogr_first_match_join": _q_first_match_join,
        # ---- (4a) r1 remainder (rotates with (3b) in round 5) ----
        "ogr_filter_in_between": _q_filter_in_between,
        "ogr_summary_agg": _q_summary_agg,
        "ogr_count_distinct": _q_count_distinct,
        "ogr_hstore_get": _q_hstore_get,
        "ogr_union_all": _q_union_all,
        "ogr_cast_concat_substr": _q_cast_concat_substr,
        "ogr_order_limit_offset": _q_order_limit_offset,
        "ogr_filter_like": _q_filter_like,
        "ogr_distinct": _q_distinct,
        # ---- (4b) round-2-verified, expensive/headline first ----
        "tile_pyramid": _q_tile_pyramid,
        "pip_rect_join": _q_pip_rect_join,
        "knn_ring": _q_knn_ring,
        "contour_segments": _q_contour,
        "tpch_q1_groupby": _q_tpch_q1,
        "window_topk": _q_window_topk,
        "window_running_sum": _q_window_running,
        "set_intersect": _q_set_intersect,
        "set_except": _q_set_except,
        "pivot_status": _q_pivot,
        "events_tumbling": _q_events_tumbling,
        "events_sessionize": _q_events_sessionize,
        "dedup_exact": _q_dedup_exact,
        "minhash_signatures": _q_minhash_sigs,
        "simhash": _q_simhash,
        "text_fingerprint": _q_fingerprint,
        "token_quality": _q_token_quality,
        "lang_id": _q_lang_id,
        "repetition_ratio": _q_repetition_ratio,
        "segment_dedup": _q_segment_dedup,
        "latest_snapshot": _q_latest_snapshot,
        "host_stats": _q_host_stats,
        "winnow_fp": _q_winnow,
        "jaccard_pairs": _q_jaccard_pairs,
        "cosine_topk": _q_cosine_topk,
        "embed_neardup": _q_embed_neardup,
        "sjoin_identity": _q_sjoin_identity,
        "sjoin_union": _q_sjoin_union,
        "sjoin_symdiff": _q_sjoin_symdiff,
        "warp_rms": _q_warp_rms,
        "warp_mode": _q_warp_mode,
        "warp_q1q3": _q_warp_q1q3,
        "warp_near": _q_warp_near,
        "warp_bilinear": _q_warp_bilinear,
        "grid_movavg": _q_grid_movavg,
        "grid_quadrant": _q_grid_quadrant,
        "color_relief": _q_color_relief,
        "graph_kpaths": _q_graph_kpaths,
        "viewshed_los": _q_viewshed,
        "viewshed_cumulative": _q_viewshed_cumulative,
        "raster_checksum": _q_raster_checksum,
        "pansharpen_brovey": _q_pansharpen,
        "mdim_subset_reduce": _q_mdim_subset_reduce,
        "dem_tri": _q_dem_tri,
        # ---- (4c) round-3-verified (freshest driver rows) ----
        "kmeans_docs": _q_kmeans_docs,
        "pagerank_docs": _q_pagerank_docs,
        "inverted_index": _q_inverted_index,
        "raster_resize": _q_raster_resize,
        "pmi_topk": _q_pmi_topk,
        "doc_cosine_pairs": _q_doc_cosine_pairs,
        "neardup_clusters": _q_neardup_clusters,
        "bm25_topk": _q_bm25_topk,
        "ngram_topk": _q_ngram_topk,
        "doc_chunks": _q_doc_chunks,
        "blend_srcover": _q_blend_srcover,
        "neighbors_median": _q_neighbors_median,
        "exact_substr": _q_exact_substr,
        "rgb2pct": _q_rgb2pct,
        "hist_equalize": _q_hist_equalize,
        "gcp_polywarp": _q_gcp_polywarp,
        "lineref_locate": _q_lineref_locate,
        "dataset_split": _q_dataset_split,
        "source_quota": _q_source_quota,
        "sequence_pack": _q_sequence_pack,
        "retile_assign": _q_retile_assign,
        "raster_compare": _q_raster_compare,
        "gdaldem_hillshade": _q_gdaldem_hillshade,
        "gdaldem_derivatives": _q_gdaldem_derivatives,
        "geom_overlay": _q_geom_overlay,
        "raster_mosaic": _q_raster_mosaic,
        "geom_predicates": _q_geom_predicates,
        "pii_redact": _q_pii_redact,
        "contamination_check": _q_contamination,
        "gopher_rules": _q_gopher_rules,
        "warp_cubic": _q_warp_cubic,
        "warp_cubicspline": _q_warp_cubicspline,
        "warp_lanczos": _q_warp_lanczos,
        "viewshed_curv": _q_viewshed_curv,
        "viewshed_minheight": _q_viewshed_minheight,
        "grid_invdistnn": _q_grid_invdistnn,
        "contour_polygon_bands": _q_contour_polygon_bands,
        "translate_scale": _q_translate_scale,
        "rasterize_line_burn": _q_rasterize_lines,
        "polygonize_regions": _q_polygonize,
        "sieve_filter": _q_sieve,
        "minhash_dedup": _q_minhash_dedup,
        "corpus_clean": _q_corpus_clean,
        "crawl_incremental": _q_crawl_incremental,
        "multimodal_features": _q_multimodal,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
    }
    ordered = {k: q[k] for k in _SWEEP_FIRST}
    ordered.update((k, v) for k, v in q.items() if k not in ordered)
    return ordered


#: Round-5 driver sweep window (the FIRST 50 keys hashed this round):
#: the 4 queries new in r5 (never swept), then the r1 cohort (newest
#: green row is round 1), then the 15 oldest r2-cohort keys — computed
#: from CORRECTNESS_r01-r04 staleness, VERDICT r4 next-round item 8.
_SWEEP_FIRST = [
    "hll_docs", "kmv_docs", "rraster_roundtrip", "saga_roundtrip", "rst_roundtrip",
    "sigdem_roundtrip", "zmap_roundtrip", "hf2_roundtrip",
    "zarr_roundtrip",
    "gmt_roundtrip",
    "s2_cell_assign", "s2_knn_sphere", "s2_cap_join", "ntv2_shift",
    "gtx_roundtrip", "byn_roundtrip", "leveller_roundtrip",
    "vicar_roundtrip", "georss_roundtrip", "rmf_roundtrip",
    "ilwis_roundtrip",
    "viewshed_cumulative", "coverage_check_gaps", "bpe_encode_docs",
    "dxf_roundtrip", "netcdf_roundtrip",
    "kml_roundtrip", "gpx_roundtrip", "gml_roundtrip", "mif_roundtrip",
    "topojson_read",
    "gif_roundtrip", "surfer_roundtrip",
    "proj_datum", "nearblack_collar", "coverage_gaps", "rat_classify",
    "fgb_roundtrip", "homography_project", "dted_roundtrip",
    "dem_aspect", "graph_sssp", "graph_components", "fillnodata_idw",
    "proximity_dist", "grid_idw", "grid_metrics", "grid_nearest",
    "overview_gauss", "overview_cubic", "overview_avg", "focal_mean",
    "warp_avg", "zonal_stats", "zonal_mode", "zonal_weighted",
    "events_sliding", "rasterize_rects", "footprint_boundary",
    "raster_calc", "histogram", "ogr_first_match_join",
    "ogr_filter_in_between", "ogr_summary_agg", "ogr_count_distinct",
    "ogr_hstore_get", "ogr_union_all", "ogr_cast_concat_substr",
    "ogr_order_limit_offset", "ogr_filter_like", "ogr_distinct",
    "tile_pyramid", "pip_rect_join", "knn_ring", "contour_segments",
    "tpch_q1_groupby", "window_topk", "window_running_sum",
    "set_intersect", "set_except", "pivot_status", "events_tumbling",
    "events_sessionize", "dedup_exact", "minhash_signatures",
]


# ----------------------------------------------------------------- oracles

def _o_tile_assign() -> str:
    return f"""
WITH {_PAGES_CTE}
SELECT doc_id, {_dd_tile_x('lon', 8)} AS x, {_dd_tile_y('lat', 8)} AS y FROM pages
"""


def _o_tile_pyramid() -> str:
    return f"""
WITH {_PAGES_CTE},
zs AS (SELECT CAST(unnest(generate_series(0, 8)) AS INTEGER) AS z)
SELECT z, x, y, count(*) AS n_pages FROM (
  SELECT zs.z,
         {_dd_tile_x('pages.lon', 'zs.z')} AS x,
         {_dd_tile_y('pages.lat', 'zs.z')} AS y
  FROM pages, zs
) GROUP BY z, x, y
"""


def _o_tile_render() -> str:
    # pixels of render tile (2, x, y) are the z-10 subtile counts:
    # px = sx % 256, py = sy % 256 (XYZ y grows downward, so py is
    # already the top-down row), linear index py*256+px == the engine's
    # row-major ravel; GDALChecksumImage = sum(v % prime[idx % 11]) &
    # 0xFFFF with absent pixels contributing 0 (0 % p == 0)
    primes = "[7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]"
    return f"""
WITH {_PAGES_CTE},
sub AS (
  SELECT {_dd_tile_x('pages.lon', 10)} AS sx,
         {_dd_tile_y('pages.lat', 10)} AS sy,
         count(*) AS n
  FROM pages GROUP BY 1, 2
),
px AS (
  SELECT sx // 256 AS x, sy // 256 AS y,
         ((sy % 256) * 256 + (sx % 256)) % 11 AS idx,
         CAST(least(n, 255) AS BIGINT) AS v
  FROM sub
)
SELECT x, y,
       CAST(sum(v % ({primes})[idx + 1]) AS BIGINT) & 65535 AS checksum,
       CAST(count(*) AS BIGINT) AS nnz
FROM px GROUP BY x, y
"""


def _o_pip_rect_join() -> str:
    arms = " UNION ALL ".join(
        f"SELECT doc_id, CAST({pid} AS BIGINT) AS poly_id FROM pages "
        f"WHERE lon >= {x0} AND lon < {x1} AND lat >= {y0} AND lat < {y1}"
        for pid, x0, y0, x1, y1 in _RECTS
    )
    return f"WITH {_PAGES_CTE} {arms}"


def _o_pip_triangle() -> str:
    (ax, ay), (bx, by), (cx, cy) = _TRI
    def half(x0, y0, x1, y1):
        return (f"(({x1}-{x0})*(lat-{y0}) - ({y1}-{y0})*(lon-{x0})) > 0")
    cond = " AND ".join([half(ax, ay, bx, by), half(bx, by, cx, cy), half(cx, cy, ax, ay)])
    return f"WITH {_PAGES_CTE} SELECT doc_id FROM pages WHERE {cond}"


def _o_knn_ring() -> str:
    return """
WITH q AS (SELECT s_suppkey AS qid, (s_suppkey*7919 % 2000)/10.0 AS qx,
                  (s_suppkey*104729 % 2000)/10.0 AS qy FROM supplier),
t AS (SELECT p_partkey AS tid, (p_partkey*9973 % 2000)/10.0 AS tx,
             (p_partkey*6151 % 2000)/10.0 AS ty FROM part),
j AS (SELECT qid, tid, sqrt((qx-tx)*(qx-tx) + (qy-ty)*(qy-ty)) AS dist
      -- box prune instead of a bare cross join: the top-3 distance is
      -- measured <= 19.95 at EVERY sf (densest-to-sparsest 4.57..19.94;
      -- scripts/volume_parity.py postmortem — the unpruned form
      -- materialized 2e9 rows at sf1.0 and OOM-killed duckdb), so a
      -- 40-unit box keeps the result bit-identical with 2x margin
      FROM q JOIN t ON abs(qx-tx) <= 40 AND abs(qy-ty) <= 40),
r AS (SELECT qid, tid, dist,
             row_number() OVER (PARTITION BY qid ORDER BY dist ASC, tid ASC) AS rnk FROM j)
SELECT qid, tid, dist, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 3
"""


def _s2_enc_values() -> str:
    """The 16-row Hilbert automaton table (o, ij2) -> (pos, next o),
    injected from the engine's own tables (geo/s2.py) so both engines
    run the identical published-S2 automaton."""
    return ",".join(
        f"({o},{ij2},{int(s2geo._ENC_POS[o * 4 + ij2])},"
        f"{int(s2geo._ENC_NEXT_O[o * 4 + ij2])})"
        for o in range(4) for ij2 in range(4))


def _o_s2_cell_assign() -> str:
    # Bit-exact twin of s2index.s2_encode(level=12, parent_level=6):
    # trig shares libm with numpy (pinned in tests/test_s2.py), the
    # quadratic uv->st is sqrt-only, and the Hilbert walk is the same
    # 16-entry integer automaton as a recursive CTE (12 steps, bits
    # 29..18). Cell-id assembly runs in HUGEINT then maps to the
    # engine's two's-complement BIGINT view; constants: 2^61, 2^37,
    # 2^36 (level-12 shift) and 2^49, 2^48 (level-6 parent shift).
    level, parent = 12, 6
    sh = 2 * (s2geo.MAX_LEVEL - level) + 1
    psh = 2 * (s2geo.MAX_LEVEL - parent) + 1
    return f"""
WITH RECURSIVE {_PAGES_CTE},
xyz AS (
  SELECT doc_id,
         cos(lat*{_PI180})*cos(lon*{_PI180}) AS x,
         cos(lat*{_PI180})*sin(lon*{_PI180}) AS y,
         sin(lat*{_PI180}) AS z
  FROM pages),
ax AS (
  SELECT doc_id, x, y, z,
         CASE WHEN abs(x) > abs(y)
              THEN (CASE WHEN abs(x) > abs(z) THEN 0 ELSE 2 END)
              ELSE (CASE WHEN abs(y) > abs(z) THEN 1 ELSE 2 END) END AS axis
  FROM xyz),
fc AS (
  SELECT doc_id, x, y, z,
         CASE WHEN (CASE axis WHEN 0 THEN x WHEN 1 THEN y ELSE z END) >= 0
              THEN axis ELSE axis + 3 END AS face
  FROM ax),
uv AS (
  SELECT doc_id, face,
         CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
                   WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
         CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
                   WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
  FROM fc),
st AS (
  SELECT doc_id, face,
         CASE WHEN u >= 0 THEN 0.5*sqrt(1.0 + 3.0*u)
              ELSE 1.0 - 0.5*sqrt(1.0 - 3.0*u) END AS s,
         CASE WHEN v >= 0 THEN 0.5*sqrt(1.0 + 3.0*v)
              ELSE 1.0 - 0.5*sqrt(1.0 - 3.0*v) END AS t
  FROM uv),
ij AS (
  SELECT doc_id, face,
         CAST(greatest(least(floor(s * 1073741824.0), 1073741823.0), 0.0)
              AS BIGINT) AS i,
         CAST(greatest(least(floor(t * 1073741824.0), 1073741823.0), 0.0)
              AS BIGINT) AS j
  FROM st),
enc(o, ij2, p, nxt) AS (VALUES {_s2_enc_values()}),
walk(doc_id, face, i, j, k, o, pos) AS (
  SELECT doc_id, face, i, j, 29, face % 2, CAST(0 AS HUGEINT) FROM ij
  UNION ALL
  SELECT w.doc_id, w.face, w.i, w.j, w.k - 1, e.nxt, w.pos * 4 + e.p
  FROM walk w JOIN enc e
    ON e.o = w.o
   AND e.ij2 = ((w.i // (CAST(1 AS BIGINT) << w.k)) % 2) * 2
             + ((w.j // (CAST(1 AS BIGINT) << w.k)) % 2)
  WHERE w.k >= {s2geo.MAX_LEVEL - level}
),
cells AS (
  SELECT doc_id,
         CAST(face AS HUGEINT) * {1 << 61} + pos * {1 << sh}
           + {1 << (sh - 1)} AS h,
         CAST(face AS HUGEINT) * {1 << 61}
           + (pos // {1 << (2 * (level - parent))}) * {1 << psh}
           + {1 << (psh - 1)} AS hp
  FROM walk WHERE k = {s2geo.MAX_LEVEL - level - 1}
)
SELECT doc_id,
       CAST(CASE WHEN h >= {1 << 63} THEN h - {1 << 64} ELSE h END
            AS BIGINT) AS s2_cell,
       CAST(CASE WHEN hp >= {1 << 63} THEN hp - {1 << 64} ELSE hp END
            AS BIGINT) AS s2_parent,
       CASE WHEN h = 0 THEN 'X'
            ELSE rtrim(lower(lpad(hex(CAST(h AS UBIGINT)), 16, '0')), '0')
       END AS s2_token
FROM cells
"""


def _o_s2_knn_sphere() -> str:
    # chord distance on identical trig-derived xyz (bit-exact libm, see
    # _o_s2_cell_assign). Component box prune instead of a bare cross
    # join: the 3rd-neighbor chord is measured <= 0.369 at the SPARSEST
    # sf (0.3689/0.1067/0.0346 at sf0.001/0.01/0.1, densifying with
    # scale), and chord >= each |coordinate delta|, so a 0.8 box keeps
    # the result bit-identical with >2x margin while bounding the
    # sf1.0 join.
    return f"""
WITH q AS (SELECT s_suppkey AS qid,
                  (s_suppkey*9973 % 170000)/1000.0 - 85.0 AS qlat,
                  (s_suppkey*104729 % 360000)/1000.0 - 180.0 AS qlng
           FROM supplier),
t AS (SELECT p_partkey AS tid,
             (p_partkey*6151 % 170000)/1000.0 - 85.0 AS tlat,
             (p_partkey*7919 % 360000)/1000.0 - 180.0 AS tlng
      FROM part),
qv AS (SELECT qid, cos(qlat*{_PI180})*cos(qlng*{_PI180}) AS qx,
              cos(qlat*{_PI180})*sin(qlng*{_PI180}) AS qy,
              sin(qlat*{_PI180}) AS qz FROM q),
tv AS (SELECT tid, cos(tlat*{_PI180})*cos(tlng*{_PI180}) AS tx,
              cos(tlat*{_PI180})*sin(tlng*{_PI180}) AS ty,
              sin(tlat*{_PI180}) AS tz FROM t),
j AS (SELECT qid, tid,
             sqrt((qx-tx)*(qx-tx) + (qy-ty)*(qy-ty) + (qz-tz)*(qz-tz))
               AS dist
      FROM qv JOIN tv
        ON abs(qx-tx) <= 0.8 AND abs(qy-ty) <= 0.8 AND abs(qz-tz) <= 0.8),
r AS (SELECT qid, tid, dist,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dist ASC, tid ASC) AS rnk
      FROM j)
SELECT qid, tid, dist, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 3
"""


def _o_s2_cap_join() -> str:
    # exact twin: the engine's cell cover is a proven superset (the
    # exact chord filter decides membership), so the oracle is just the
    # chord test over the caps x pages product — 25 caps keeps it
    # bounded at every sf. Identical trig/op order as _o_s2_knn_sphere.
    return f"""
WITH {_PAGES_CTE},
caps AS (SELECT n_nationkey AS cap_id,
                (n_nationkey*9973 % 170000)/1000.0 - 85.0 AS clat,
                (n_nationkey*104729 % 360000)/1000.0 - 180.0 AS clng
         FROM nation),
cv AS (SELECT cap_id, cos(clat*{_PI180})*cos(clng*{_PI180}) AS px,
              cos(clat*{_PI180})*sin(clng*{_PI180}) AS py,
              sin(clat*{_PI180}) AS pz FROM caps),
pv AS (SELECT doc_id, cos(lat*{_PI180})*cos(lon*{_PI180}) AS tx,
              cos(lat*{_PI180})*sin(lon*{_PI180}) AS ty,
              sin(lat*{_PI180}) AS tz FROM pages)
SELECT cap_id, doc_id,
       sqrt((px-tx)*(px-tx) + (py-ty)*(py-ty) + (pz-tz)*(pz-tz)) AS dist
FROM cv, pv
WHERE sqrt((px-tx)*(px-tx) + (py-ty)*(py-ty) + (pz-tz)*(pz-tz)) <= 0.25
"""


def _o_ntv2_shift() -> str:
    # bit-exact twin of ntv2_shift_np on the toy grid: identical op
    # order ((lon*3600 - w)/inc folds, floor/clamp, 4-term bilinear
    # left-assoc sum), grid node values injected as exact k/64 decimal
    # literals (terminating binary fractions — no double rounding).
    g = _ntv2_toy_grid()
    W, H = g["width"], g["height"]
    la = g["bands"][0].astype(np.float64)
    lo = g["bands"][1].astype(np.float64)
    vals = ",".join(
        f"({x},{y},{la[y, x]!r},{lo[y, x]!r})"
        for y in range(H) for x in range(W))
    bil = lambda c: (f"(g00.{c}*(1.0-wx)*(1.0-wy) + g01.{c}*wx*(1.0-wy)"
                     f" + g10.{c}*(1.0-wx)*wy + g11.{c}*wx*wy)")
    return f"""
WITH {_PAGES_CTE},
grid(gx, gy, la, lo) AS (VALUES {vals}),
pts AS (
  SELECT doc_id, lat, lon,
         (lon*3600.0 - ({g['w_long']!r}))/{g['long_inc']!r} AS fx,
         ({g['n_lat']!r} - lat*3600.0)/{g['lat_inc']!r} AS fy
  FROM pages),
pos AS (
  SELECT doc_id, lat, lon, fx, fy,
         (fx >= 0 AND fx <= {W - 1} AND fy >= 0 AND fy <= {H - 1}) AS ok,
         CAST(greatest(least(floor(fx), {W - 1}.0), 0.0) AS BIGINT) AS x0,
         CAST(greatest(least(floor(fy), {H - 1}.0), 0.0) AS BIGINT) AS y0
  FROM pts),
pos2 AS (
  SELECT *, least(x0 + 1, {W - 1}) AS x1, least(y0 + 1, {H - 1}) AS y1,
         fx - x0 AS wx, fy - y0 AS wy
  FROM pos)
SELECT doc_id,
       CASE WHEN ok THEN lon - {bil('lo')}/3600.0 ELSE lon END AS lon2,
       CASE WHEN ok THEN lat + {bil('la')}/3600.0 ELSE lat END AS lat2,
       CAST(ok AS BIGINT) AS shifted
FROM pos2
JOIN grid g00 ON g00.gx = x0 AND g00.gy = y0
JOIN grid g01 ON g01.gx = x1 AND g01.gy = y0
JOIN grid g10 ON g10.gx = x0 AND g10.gy = y1
JOIN grid g11 ON g11.gx = x1 AND g11.gy = y1
"""


def _o_gtx_roundtrip() -> str:
    # the /8 quantization is exact in float32, so the *8 recovery is an
    # integer — the codec can only hash-match if every sample, its
    # position remap (bottom-up <-> N-up) and the nodata handling
    # round-tripped exactly.
    return """
WITH cells AS (
  SELECT CAST(doc_id % 31 AS BIGINT) AS bx,
         CAST((doc_id // 31) % 17 AS BIGINT) AS byy,
         CAST(min(n_chars) % 97 - 48 AS BIGINT) AS v8
  FROM documents GROUP BY 1, 2)
SELECT bx % 5 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(bx) AS BIGINT) AS bx_sum,
       CAST(sum(byy) AS BIGINT) AS by_sum,
       CAST(sum(v8) AS BIGINT) AS v8_sum
FROM cells GROUP BY 1
"""


def _o_byn_roundtrip() -> str:
    return """
WITH cells AS (
  SELECT CAST(doc_id % 29 AS BIGINT) AS bx,
         CAST((doc_id // 29) % 13 AS BIGINT) AS byy,
         CAST(min(n_chars) % 1201 - 600 AS BIGINT) AS v
  FROM documents GROUP BY 1, 2)
SELECT bx % 4 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(bx) AS BIGINT) AS bx_sum,
       CAST(sum(byy) AS BIGINT) AS by_sum,
       CAST(sum(v) AS BIGINT) AS v_sum
FROM cells GROUP BY 1
"""


def _o_grid8_roundtrip(W: int, H: int, mod: int, half: int,
                       bucket_mod: int) -> str:
    # shared twin for the eighth-step grid roundtrips: the codec can
    # only hash-match when every sample, the row flip and the nodata
    # sentinel round-tripped exactly (v8 recovers the exact integer).
    return f"""
WITH cells AS (
  SELECT CAST(doc_id % {W} AS BIGINT) AS bx,
         CAST((doc_id // {W}) % {H} AS BIGINT) AS byy,
         CAST(min(n_chars) % {mod} - {half} AS BIGINT) AS v8
  FROM documents GROUP BY 1, 2)
SELECT bx % {bucket_mod} AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(bx) AS BIGINT) AS bx_sum,
       CAST(sum(byy) AS BIGINT) AS by_sum,
       CAST(sum(v8) AS BIGINT) AS v8_sum
FROM cells GROUP BY 1
"""


def _o_rraster_roundtrip() -> str:
    return _o_grid8_roundtrip(23, 11, 193, 96, 5)


def _o_saga_roundtrip() -> str:
    return _o_grid8_roundtrip(19, 14, 157, 78, 3)


def _o_sigdem_roundtrip() -> str:
    return _o_grid8_roundtrip(33, 7, 241, 120, 6)


_HEX = "0123456789abcdef"


def _o_kmv_docs() -> str:
    return """
SELECT h AS hash FROM (
  SELECT DISTINCT md5(CAST(text AS VARCHAR)) AS h
  FROM documents WHERE text IS NOT NULL)
ORDER BY h LIMIT 128
"""


def _o_hll_docs() -> str:
    dig = lambda i: f"(strpos('{_HEX}', substr(hx,{i},1))-1)"  # noqa: E731
    lz = ("CASE substr(s16, length(regexp_extract(s16, '^(0*)', 1))+1, 1) "
          "WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2 "
          "WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 "
          "WHEN '7' THEN 1 ELSE 0 END")
    return f"""
WITH h AS (
  SELECT md5(CAST(text AS VARCHAR)) AS hx FROM documents
  WHERE text IS NOT NULL),
rr AS (
  SELECT {dig(1)}*256 + {dig(2)}*16 + {dig(3)} AS bucket,
         substr(hx, 4, 16) AS s16
  FROM h),
r AS (
  SELECT bucket,
         CASE WHEN s16 = '0000000000000000' THEN 65
              ELSE 4*length(regexp_extract(s16, '^(0*)', 1)) + {lz} + 1
         END AS rho
  FROM rr),
regs AS (SELECT bucket, MAX(rho) AS rho FROM r GROUP BY bucket)
SELECT bucket % 64 AS grp,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(rho) AS BIGINT) AS rho_sum,
       CAST(MAX(rho) AS BIGINT) AS rho_max
FROM regs GROUP BY 1
"""


def _o_zmap_roundtrip() -> str:
    return _o_grid8_roundtrip(21, 13, 211, 105, 4)


def _o_zarr_roundtrip() -> str:
    return _o_grid8_roundtrip(25, 17, 227, 113, 7)


def _o_hf2_roundtrip() -> str:
    # HF2 has no nodata: absent cells were written as 0, so the grid
    # comes back DENSE — fold the full W x H lattice with coalesce 0
    return """
WITH cells AS (
  SELECT CAST(doc_id % 37 AS BIGINT) AS bx,
         CAST((doc_id // 37) % 19 AS BIGINT) AS byy,
         CAST(min(n_chars) % 4001 - 2000 AS BIGINT) AS v
  FROM documents GROUP BY 1, 2),
grid AS (
  SELECT CAST(x.r AS BIGINT) AS bx, CAST(y.r AS BIGINT) AS byy
  FROM range(0, 37) x(r), range(0, 19) y(r))
SELECT grid.bx % 5 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(grid.bx) AS BIGINT) AS bx_sum,
       CAST(sum(grid.byy) AS BIGINT) AS by_sum,
       CAST(sum(COALESCE(cells.v, 0)) AS BIGINT) AS v_sum
FROM grid LEFT JOIN cells
  ON grid.bx = cells.bx AND grid.byy = cells.byy
GROUP BY 1
"""


def _o_rst_roundtrip() -> str:
    return """
WITH cells AS (
  SELECT CAST(doc_id % 27 AS BIGINT) AS bx,
         CAST((doc_id // 27) % 9 AS BIGINT) AS byy,
         CAST(min(n_chars) % 1999 - 999 AS BIGINT) AS v
  FROM documents GROUP BY 1, 2)
SELECT bx % 4 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(bx) AS BIGINT) AS bx_sum,
       CAST(sum(byy) AS BIGINT) AS by_sum,
       CAST(sum(v) AS BIGINT) AS v_sum
FROM cells GROUP BY 1
"""


def _o_leveller_roundtrip() -> str:
    # full-grid aggregation: absent combos contribute value 0 but still
    # count, so n pins W*H per bucket and the v2 fold can only match if
    # every written sample survived the tag-stream loop exactly.
    return """
WITH xs AS (SELECT unnest(range(0, 27)) AS bx),
ys AS (SELECT unnest(range(0, 11)) AS byy),
written AS (
  SELECT CAST(doc_id % 27 AS BIGINT) AS bx,
         CAST((doc_id // 27) % 11 AS BIGINT) AS byy,
         CAST(min(n_chars) % 1601 - 800 AS BIGINT) AS v2
  FROM documents GROUP BY 1, 2),
grid AS (
  SELECT CAST(xs.bx AS BIGINT) AS bx, CAST(ys.byy AS BIGINT) AS byy,
         coalesce(w.v2, 0) AS v2
  FROM xs CROSS JOIN ys
  LEFT JOIN written w ON w.bx = xs.bx AND w.byy = ys.byy)
SELECT bx % 6 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(bx) AS BIGINT) AS bx_sum,
       CAST(sum(byy) AS BIGINT) AS by_sum,
       CAST(sum(v2) AS BIGINT) AS v2_sum
FROM grid GROUP BY 1
"""


def _o_vicar_roundtrip() -> str:
    # full-grid aggregation (absent cells written as 0 still count);
    # the v fold can only match if every int16 sample survived the
    # label+record loop and the MAP_SCALE re-parse returned exactly 25
    return """
WITH xs AS (SELECT unnest(range(0, 23)) AS bx),
ys AS (SELECT unnest(range(0, 19)) AS byy),
written AS (
  SELECT CAST(doc_id % 23 AS BIGINT) AS bx,
         CAST((doc_id // 23) % 19 AS BIGINT) AS byy,
         CAST(min(n_chars) % 2001 - 1000 AS BIGINT) AS v
  FROM documents GROUP BY 1, 2),
grid AS (
  SELECT CAST(xs.bx AS BIGINT) AS bx, CAST(ys.byy AS BIGINT) AS byy,
         coalesce(w.v, 0) AS v
  FROM xs CROSS JOIN ys
  LEFT JOIN written w ON w.bx = xs.bx AND w.byy = ys.byy)
SELECT bx % 7 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(bx) AS BIGINT) AS bx_sum,
       CAST(sum(byy) AS BIGINT) AS by_sum,
       CAST(sum(v) AS BIGINT) AS v_sum
FROM grid GROUP BY 1
"""


def _o_georss_roundtrip() -> str:
    return """
SELECT CAST(doc_id % 311 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) % 360000 - 180000 AS BIGINT) AS lon_i,
       CAST(sum(doc_id) % 170000 - 85000 AS BIGINT) AS lat_i
FROM documents GROUP BY 1
"""


def _o_rmf_roundtrip() -> str:
    return """
WITH xs AS (SELECT unnest(range(0, 73)) AS bx),
ys AS (SELECT unnest(range(0, 41)) AS byy),
written AS (
  SELECT CAST(doc_id % 73 AS BIGINT) AS bx,
         CAST((doc_id // 73) % 41 AS BIGINT) AS byy,
         CAST(min(n_chars) * 977 % 2000003 - 1000000 AS BIGINT) AS v
  FROM documents GROUP BY 1, 2),
grid AS (
  SELECT CAST(xs.bx AS BIGINT) AS bx, CAST(ys.byy AS BIGINT) AS byy,
         coalesce(w.v, 0) AS v
  FROM xs CROSS JOIN ys
  LEFT JOIN written w ON w.bx = xs.bx AND w.byy = ys.byy)
SELECT bx % 9 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(bx) AS BIGINT) AS bx_sum,
       CAST(sum(byy) AS BIGINT) AS by_sum,
       CAST(sum(v) AS BIGINT) AS v_sum
FROM grid GROUP BY 1
"""


def _o_ilwis_roundtrip() -> str:
    return """
WITH xs AS (SELECT unnest(range(0, 37)) AS bx),
ys AS (SELECT unnest(range(0, 21)) AS byy),
written AS (
  SELECT CAST(doc_id % 37 AS BIGINT) AS bx,
         CAST((doc_id // 37) % 21 AS BIGINT) AS byy,
         CAST(min(n_chars) % 3001 - 1500 AS BIGINT) AS v
  FROM documents GROUP BY 1, 2),
grid AS (
  SELECT CAST(xs.bx AS BIGINT) AS bx, CAST(ys.byy AS BIGINT) AS byy,
         coalesce(w.v, 0) AS v
  FROM xs CROSS JOIN ys
  LEFT JOIN written w ON w.bx = xs.bx AND w.byy = ys.byy)
SELECT bx % 5 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(bx) AS BIGINT) AS bx_sum,
       CAST(sum(byy) AS BIGINT) AS by_sum,
       CAST(sum(v) AS BIGINT) AS v_sum
FROM grid GROUP BY 1
"""


def _o_zonal_stats() -> str:
    return f"""
WITH {_PAGES_CTE}
SELECT CAST(floor(lon/30.0) AS BIGINT) AS zone,
       count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total,
       avg(n_chars) AS mean, CAST(min(n_chars) AS BIGINT) AS vmin,
       CAST(max(n_chars) AS BIGINT) AS vmax
FROM pages GROUP BY 1
"""


def _o_zonal_weighted() -> str:
    return f"""
WITH {_PAGES_CTE},
v AS (
  SELECT CAST(floor(lon/30.0) AS BIGINT) AS zone,
         CAST(n_chars AS DOUBLE) AS value,
         CAST(doc_id % 4 + 1 AS DOUBLE) AS weight
  FROM pages
)
SELECT zone, sum(value*weight) AS weighted_sum,
       round(sum(value*weight)/sum(weight), 9) AS weighted_mean
FROM v GROUP BY 1
"""


def _o_zonal_mode() -> str:
    return f"""
WITH {_PAGES_CTE},
v AS (
  SELECT CAST(floor(lon/30.0) AS BIGINT) AS zone,
         CAST(n_chars % 7 AS BIGINT) AS value
  FROM pages
),
freq AS (SELECT zone, value, count(*) AS n FROM v GROUP BY 1, 2),
m AS (
  SELECT zone, value,
         row_number() OVER (PARTITION BY zone ORDER BY n DESC, value ASC) AS r_mode,
         row_number() OVER (PARTITION BY zone ORDER BY n ASC, value ASC) AS r_min
  FROM freq
)
SELECT a.zone, a.value AS mode, b.value AS minority
FROM (SELECT zone, value FROM m WHERE r_mode = 1) a
JOIN (SELECT zone, value FROM m WHERE r_min = 1) b ON a.zone = b.zone
"""


def _o_events_sliding() -> str:
    # each event belongs to windows starting at floor((t - k*300)/600)*600
    # ... equivalently the two 300s-aligned slots covering it
    return """
WITH ev AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events
),
slots AS (
  SELECT (us // 300000000 - k.i) * 300000000 AS w_us, event_type
  FROM ev, (SELECT unnest([0, 1]) AS i) k
)
SELECT w_us, event_type, count(*) AS n FROM slots GROUP BY 1, 2
"""


def _o_overview_avg() -> str:
    return f"""
WITH {_PAGES_CTE},
base AS (
  SELECT {_dd_tile_x('lon', 8)} AS x, {_dd_tile_y('lat', 8)} AS y,
         CAST(count(*) AS DOUBLE) AS v
  FROM pages GROUP BY 1, 2
)
SELECT x >> 1 AS bx, y >> 1 AS "by", avg(v) AS value FROM base GROUP BY 1, 2
"""


def _o_overview_gauss() -> str:
    return f"""
WITH {_PAGES_CTE},
base AS (
  SELECT {_dd_tile_x('lon', 8)} AS bx, {_dd_tile_y('lat', 8)} AS "by",
         CAST(count(*) AS DOUBLE) AS value
  FROM pages GROUP BY 1, 2
),
c AS (
  SELECT b.bx - dx.i AS ax, b."by" - dy.i AS ay,
         CAST((2 - abs(dx.i)) * (2 - abs(dy.i)) AS DOUBLE) AS w, b.value AS v
  FROM base b,
       (SELECT unnest([-1, 0, 1]) AS i) dx,
       (SELECT unnest([-1, 0, 1]) AS i) dy
)
SELECT CAST(ax / 2 AS BIGINT) AS bx, CAST(ay / 2 AS BIGINT) AS "by",
       sum(w * v) / sum(w) AS value
FROM c WHERE ax % 2 = 0 AND ay % 2 = 0 GROUP BY 1, 2
"""


def _o_overview_cubic() -> str:
    # 4-tap separable cubic weights [-1/16, 9/16, 9/16, -1/16] — dyadic,
    # exact on the integer-valued dense grid
    return f"""
WITH {_dd_base8_cte()},
c AS (
  SELECT b.bx - dx.i AS ax, b."by" - dy.i AS ay,
         (CASE WHEN dx.i IN (-1, 2) THEN -0.0625 ELSE 0.5625 END)
       * (CASE WHEN dy.i IN (-1, 2) THEN -0.0625 ELSE 0.5625 END) AS w,
         b.value AS v
  FROM base b,
       (SELECT unnest([-1, 0, 1, 2]) AS i) dx,
       (SELECT unnest([-1, 0, 1, 2]) AS i) dy
)
SELECT CAST(ax / 2 AS BIGINT) AS bx, CAST(ay / 2 AS BIGINT) AS "by",
       sum(w * v) AS value
FROM c WHERE ax % 2 = 0 AND ay % 2 = 0
GROUP BY 1, 2 HAVING count(*) = 16
"""


def _o_footprint() -> str:
    return f"""
WITH {_dd_base8_cte()},
holes AS (SELECT bx, "by" FROM base WHERE (bx*31 + "by") % 7 <> 0),
n AS (
  SELECT h.bx + o.dx AS bx, h."by" + o.dy AS "by", count(*) AS c
  FROM holes h,
       (SELECT 1 AS dx, 0 AS dy UNION ALL SELECT -1, 0
        UNION ALL SELECT 0, 1 UNION ALL SELECT 0, -1) o
  GROUP BY 1, 2
)
SELECT h.bx, h."by"
FROM holes h LEFT JOIN n ON h.bx = n.bx AND h."by" = n."by"
WHERE coalesce(n.c, 0) < 4
"""


def _o_rasterize() -> str:
    return """
WITH g AS (
  SELECT CAST(a.i AS BIGINT) AS bx, CAST(b.i AS BIGINT) AS "by"
  FROM (SELECT unnest(generate_series(0, 9)) AS i) a,
       (SELECT unnest(generate_series(0, 9)) AS i) b
)
SELECT bx, "by",
       CASE WHEN bx BETWEEN 4 AND 9 AND "by" BETWEEN 4 AND 9 THEN 20.0 ELSE 10.0 END AS value
FROM g
WHERE (bx <= 5 AND "by" <= 5) OR (bx BETWEEN 4 AND 9 AND "by" BETWEEN 4 AND 9)
"""


def _o_histogram() -> str:
    return """
SELECT CAST(least(floor(n_chars/50.0), 19) AS BIGINT) AS bucket, count(*) AS n
FROM documents GROUP BY 1
"""


def _o_focal_mean() -> str:
    return f"""
WITH {_PAGES_CTE},
base AS (
  SELECT {_dd_tile_x('lon', 8)} AS bx, {_dd_tile_y('lat', 8)} AS "by",
         CAST(count(*) AS DOUBLE) AS value
  FROM pages GROUP BY 1, 2
),
contrib AS (
  SELECT b.bx + dx.i AS bx, b."by" + dy.i AS "by", b.value AS v
  FROM base b,
       (SELECT unnest([-1, 0, 1]) AS i) dx,
       (SELECT unnest([-1, 0, 1]) AS i) dy
),
g AS (SELECT bx, "by", avg(v) AS focal_mean FROM contrib GROUP BY 1, 2)
SELECT b.bx, b."by", b.value, g.focal_mean
FROM base b JOIN g ON b.bx = g.bx AND b."by" = g."by"
"""


def _dd_w9(base_cte: str) -> str:
    """SQL 3x3 window pivot over a (bx,"by",value) base CTE — mirrors
    dem.window3x3: source (sx,sy) at offset (dx,dy) feeds window
    (sx-dx, sy-dy) in slot z[3*(dy+1)+(dx+1)+1]."""
    cases = []
    slots = [("z1", -1, -1), ("z2", 0, -1), ("z3", 1, -1),
             ("z4", -1, 0), ("z5", 0, 0), ("z6", 1, 0),
             ("z7", -1, 1), ("z8", 0, 1), ("z9", 1, 1)]
    for lbl, dx, dy in slots:
        cases.append(
            f'max(CASE WHEN dx={dx} AND dy={dy} THEN v END) AS {lbl}'
        )
    return f"""{base_cte},
contrib AS (
  SELECT b.bx - dx.i AS bx, b."by" - dy.i AS "by",
         dx.i AS dx, dy.i AS dy, b.value AS v
  FROM base b,
       (SELECT unnest([-1, 0, 1]) AS i) dx,
       (SELECT unnest([-1, 0, 1]) AS i) dy
),
w9 AS (
  SELECT bx, "by", {', '.join(cases)}, count(*) AS n
  FROM contrib GROUP BY 1, 2
),
horn AS (
  SELECT bx, "by",
         ((z3 + 2*z6 + z9) - (z1 + 2*z4 + z7)) / 8.0 AS dzdx,
         ((z7 + 2*z8 + z9) - (z1 + 2*z2 + z3)) / 8.0 AS dzdy
  FROM w9 WHERE n = 9
)"""


def _dd_base8_cte() -> str:
    return """base AS (
  SELECT CAST(doc_id % 25 AS BIGINT) AS bx,
         CAST(floor(doc_id/25) AS BIGINT) % 20 AS "by",
         CAST(sum(n_chars) AS DOUBLE) AS value
  FROM documents GROUP BY 1, 2
)"""


def _o_dem_hillshade() -> str:
    # term-for-term transcendental mirror (atan/atan2/sin/cos exist in
    # both engines) with repr-injected python constants; the 4-dp round
    # on BOTH sides absorbs libm ulp differences, and transcendental
    # outputs never terminate on the rounding half-boundary (the
    # knife-edge class needs grid-aligned rational inputs)
    import math as _m

    zen = _m.radians(90.0 - 45.0)
    az = repr(_m.radians(360.0 - 315.0 + 90.0))
    c, s = repr(_m.cos(zen)), repr(_m.sin(zen))
    return f"""
WITH {_PAGES_CTE},
{_dd_w9(_dd_base8_cte())},
h2 AS (
  SELECT bx, "by",
         atan(sqrt(dzdx*dzdx + dzdy*dzdy)) AS slope_r,
         atan2(-dzdy, dzdx) AS aspect_r
  FROM horn
)
SELECT bx, "by",
       round(greatest(0.0, least(255.0,
             255.0 * ({c} * cos(slope_r)
                      + {s} * sin(slope_r) * cos({az} - aspect_r)))), 4)
           AS hillshade
FROM h2
"""


def _o_gdaldem_hillshade() -> str:
    # constants repr-injected from the ENGINE's own fold (CLAUDE.md rule:
    # never hardcode rounded constants); the float32 steps mirror via
    # duckdb REAL arithmetic (REAL + REAL stays float32 — verified)
    c = gdaldem_compat.hillshade_constants(_GDALDEM_GT, z=30.0,
                                           scale=111120.0)
    slots = ("(0,-1,1),(1,0,1),(2,1,1),(3,-1,0),(4,0,0),(5,1,0),"
             "(6,-1,-1),(7,0,-1),(8,1,-1)")
    cases = ", ".join(f"max(CASE WHEN k={i} THEN v END) AS w{i}"
                      for i in range(9))
    return f"""
WITH {_PAGES_CTE},
{_dd_base8_cte()},
contrib AS (
  SELECT b.bx - o.dx AS bx, b."by" - o.dy AS "by", o.k AS k,
         CAST(b.value AS BIGINT) AS v
  FROM base b, (VALUES {slots}) o(k, dx, dy)
  WHERE b.bx - o.dx BETWEEN 0 AND 24 AND b."by" - o.dy BETWEEN 0 AND 19
),
w9 AS (
  SELECT bx, "by", {cases}, count(*) AS n FROM contrib GROUP BY 1, 2
),
acc AS (
  SELECT bx, "by", n,
         CAST((w0 - w8) + 2*(w3 - w5) + (w6 - w2) AS DOUBLE) AS x,
         CAST((w0 - w8) + 2*(w1 - w7) - (w6 - w2) AS DOUBLE) AS y
  FROM w9
),
shade AS (
  SELECT bx, "by", n,
         ({c['sin_alt254']!r} + (x * {c['sin254inv']!r}
                                 + y * {c['cos254inv']!r}))
           / sqrt(1 + {c['sqz_inv2']!r} * (x*x + y*y)) AS v254
  FROM acc
)
SELECT bx, "by",
  CASE WHEN n = 9 AND bx BETWEEN 1 AND 23 AND "by" BETWEEN 1 AND 18 THEN
    CAST(least(255.0, greatest(0.0, floor(CAST(
      (CASE WHEN v254 <= 0 THEN CAST(1.0 AS REAL)
            ELSE CAST(1.0 + v254 AS REAL) END) + CAST(0.5 AS REAL)
      AS DOUBLE)))) AS BIGINT)
  ELSE 0 END AS shade
FROM shade
"""


def _o_gdaldem_derivatives() -> str:
    # float32 steps mirror via duckdb REAL arithmetic; fold orders match
    # the engine Column expressions term for term
    c = gdaldem_compat.hillshade_constants(_GDALDEM_GT, z=30.0,
                                           scale=111120.0)
    slots = ("(0,-1,1),(1,0,1),(2,1,1),(3,-1,0),(4,0,0),(5,1,0),"
             "(6,-1,-1),(7,0,-1),(8,1,-1)")
    cases = ", ".join(f"max(CASE WHEN k={i} THEN v END) AS w{i}"
                      for i in range(9))
    sq = " + ".join(
        f"(CAST(w{k} - w4 AS DOUBLE) * CAST(w{k} - w4 AS DOUBLE))"
        for k in (0, 1, 2, 3, 5, 6, 7, 8))
    allw = ", ".join(f"w{k}" for k in range(9))
    flat_fc = repr(1.0 + c["sin_alt254"])
    return f"""
WITH {_PAGES_CTE},
{_dd_base8_cte()},
contrib AS (
  SELECT b.bx - o.dx AS bx, b."by" - o.dy AS "by", o.k AS k,
         CAST(b.value AS BIGINT) AS v
  FROM base b, (VALUES {slots}) o(k, dx, dy)
  WHERE b.bx - o.dx BETWEEN 0 AND 24 AND b."by" - o.dy BETWEEN 0 AND 19
),
w9 AS (
  SELECT bx, "by", {cases}, count(*) AS n FROM contrib GROUP BY 1, 2
),
grad AS (
  SELECT bx, "by", n, {allw},
         CAST((w0 + 2*w3 + w6) - (w2 + 2*w5 + w8) AS DOUBLE)
           * {c['inv_ew']!r} AS x,
         CAST((w6 + 2*w7 + w8) - (w0 + 2*w1 + w2) AS DOUBLE)
           * {c['inv_ns']!r} AS y
  FROM w9
),
md AS (
  SELECT bx, "by", n, {allw}, x*x AS xx, y*y AS yy, x, y FROM grad
),
vals AS (
  SELECT bx, "by", n, {allw}, xx, yy, x, y,
    CASE WHEN {c['sin_alt127']!r} + (x - y) * {c['cos225_caz127']!r} <= 0
         THEN 0.0 ELSE {c['sin_alt127']!r}
              + (x - y) * {c['cos225_caz127']!r} END AS v225,
    CASE WHEN {c['sin_alt127']!r} - x * {c['cos_alt_z127']!r} <= 0
         THEN 0.0 ELSE {c['sin_alt127']!r}
              - x * {c['cos_alt_z127']!r} END AS v270,
    CASE WHEN {c['sin_alt127']!r} + (x + y) * {c['cos225_caz127']!r} <= 0
         THEN 0.0 ELSE {c['sin_alt127']!r}
              + (x + y) * {c['cos225_caz127']!r} END AS v315,
    CASE WHEN {c['sin_alt127']!r} - y * {c['cos_alt_z127']!r} <= 0
         THEN 0.0 ELSE {c['sin_alt127']!r}
              - y * {c['cos_alt_z127']!r} END AS v360
  FROM md
),
fc AS (
  SELECT bx, "by", n, {allw},
    CASE WHEN xx + yy = 0.0 THEN CAST({flat_fc} AS REAL)
         ELSE CAST(1.0 + (((0.5*(xx + yy) - x*y) * v225 + xx * v270
                    + ((xx + yy) - (0.5*(xx + yy) - x*y)) * v315
                    + yy * v360) / (xx + yy))
                   / sqrt(1 + {c['sqz']!r} * (xx + yy)) AS REAL)
    END AS fcv
  FROM vals
),
final AS (
  SELECT bx, "by",
    n = 9 AND bx BETWEEN 1 AND 23 AND "by" BETWEEN 1 AND 18 AS ok,
    CAST(CAST(w4 AS REAL)
         - CAST(CAST(w0+w1+w2+w3+w5+w6+w7+w8 AS REAL)
                * CAST(0.125 AS REAL) AS REAL) AS REAL) AS tpi_v,
    CAST(sqrt({sq}) AS REAL) AS tri_v,
    CAST(greatest({allw}) - least({allw}) AS REAL) AS rough_v,
    CAST(least(255.0, greatest(0.0, floor(CAST(
      fcv + CAST(0.5 AS REAL) AS DOUBLE)))) AS BIGINT) AS shade_v
  FROM fc
)
SELECT bx, "by",
  CASE WHEN ok THEN tpi_v ELSE CAST(-9999.0 AS REAL) END AS tpi,
  CASE WHEN ok THEN tri_v ELSE CAST(-9999.0 AS REAL) END AS tri,
  CASE WHEN ok THEN rough_v ELSE CAST(-9999.0 AS REAL) END AS roughness,
  CASE WHEN ok THEN shade_v ELSE 0 END AS shade
FROM final
"""


def _o_dem_slope() -> str:
    return f"""
WITH {_PAGES_CTE},
{_dd_w9(_dd_base8_cte())}
SELECT bx, "by", dzdx, dzdy, 100.0 * sqrt(dzdx*dzdx + dzdy*dzdy) AS slope_pct
FROM horn
"""


def _o_dem_aspect() -> str:
    return f"""
WITH {_PAGES_CTE},
{_dd_w9(_dd_base8_cte())}
SELECT bx, "by",
  CAST(CASE
    WHEN abs(dzdx) = 0 AND abs(dzdy) = 0 THEN -1
    WHEN abs(dzdx) >= 2*abs(dzdy) THEN (CASE WHEN dzdx < 0 THEN 2 ELSE 6 END)
    WHEN abs(dzdy) >= 2*abs(dzdx) THEN (CASE WHEN dzdy < 0 THEN 4 ELSE 0 END)
    WHEN dzdx < 0 AND dzdy >= 0 THEN 1
    WHEN dzdx < 0 AND dzdy < 0 THEN 3
    WHEN dzdx >= 0 AND dzdy < 0 THEN 5
    ELSE 7 END AS INTEGER) AS aspect_sector
FROM horn
"""


def _o_interp_bilinear() -> str:
    return f"""
WITH {_PAGES_CTE},
{_dd_base8_cte()},
pts AS (
  SELECT p_partkey AS pt_id, (p_partkey*7919 % 24925)/997.0 AS px,
         (p_partkey*6151 % 19940)/997.0 AS py
  FROM part
),
expl AS (
  SELECT pt_id, px, py,
         CAST(floor(px - 0.5) AS BIGINT) + cx.i AS bx,
         CAST(floor(py - 0.5) AS BIGINT) + cy.i AS "by",
         (CASE WHEN cx.i = 0 THEN 1.0 - (px - 0.5 - floor(px - 0.5))
               ELSE px - 0.5 - floor(px - 0.5) END)
       * (CASE WHEN cy.i = 0 THEN 1.0 - (py - 0.5 - floor(py - 0.5))
               ELSE py - 0.5 - floor(py - 0.5) END) AS w
  FROM pts, (SELECT unnest([0, 1]) AS i) cx, (SELECT unnest([0, 1]) AS i) cy
),
hit AS (
  SELECT e.pt_id, e.px, e.py, e.w, b.value
  FROM expl e JOIN base b ON e.bx = b.bx AND e."by" = b."by"
)
SELECT pt_id, px, py, round(sum(w*value), 6) AS value
FROM hit GROUP BY 1, 2, 3 HAVING count(*) = 4
"""


def _dd_rect_arms() -> str:
    return " UNION ALL ".join(
        f"SELECT doc_id, CAST({pid} AS BIGINT) AS poly_id FROM pages "
        f"WHERE lon >= {x0} AND lon < {x1} AND lat >= {y0} AND lat < {y1}"
        for pid, x0, y0, x1, y1 in _RECTS
    )


def _o_contour_multi() -> str:
    # reuse the single-level marching-squares SQL three times, one arm per
    # level; levels derive from the same exact stats in SQL
    lvl = "SELECT min(value) AS lo, max(value) AS hi FROM base"
    arms = []
    for i in (1, 2, 3):
        L = f"((SELECT lo FROM st) + {i} * ((SELECT hi FROM st) - (SELECT lo FROM st)) / 4.0)"
        arms.append(f"""
SELECT {L} AS level, x0, y0, x1, y1 FROM (
  WITH c AS (
    SELECT CAST(bx AS DOUBLE) AS bxd, CAST("by" AS DOUBLE) AS byd,
           tl, tr, bl, br,
           (CASE WHEN tl >= {L} THEN 1 ELSE 0 END)
         + (CASE WHEN tr >= {L} THEN 2 ELSE 0 END)
         + (CASE WHEN br >= {L} THEN 4 ELSE 0 END)
         + (CASE WHEN bl >= {L} THEN 8 ELSE 0 END) AS idx,
           (tl + tr + bl + br) / 4.0 >= {L} AS cin
    FROM sq WHERE n = 4
  ),
  pts AS (
    SELECT idx, cin,
           bxd + ({L} - tl) / (tr - tl) AS tx, byd AS ty,
           bxd + 1.0 AS rx, byd + ({L} - tr) / (br - tr) AS ry,
           bxd + ({L} - bl) / (br - bl) AS bx2, byd + 1.0 AS by2,
           bxd AS lx, byd + ({L} - tl) / (bl - tl) AS ly
    FROM c WHERE idx NOT IN (0, 15)
  ),
  arm1 AS (
    SELECT
      CASE WHEN idx IN (3,12,7,8) THEN lx WHEN idx IN (4,11) THEN rx ELSE tx END AS ax,
      CASE WHEN idx IN (3,12,7,8) THEN ly WHEN idx IN (4,11) THEN ry ELSE ty END AS ay,
      CASE WHEN idx IN (1,14) THEN lx WHEN idx IN (2,13,3,12) THEN rx
           WHEN idx IN (4,11,6,9,7,8) THEN bx2
           WHEN idx = 5 THEN (CASE WHEN cin THEN rx ELSE lx END)
           ELSE (CASE WHEN cin THEN lx ELSE rx END) END AS bx_,
      CASE WHEN idx IN (1,14) THEN ly WHEN idx IN (2,13,3,12) THEN ry
           WHEN idx IN (4,11,6,9,7,8) THEN by2
           WHEN idx = 5 THEN (CASE WHEN cin THEN ry ELSE ly END)
           ELSE (CASE WHEN cin THEN ly ELSE ry END) END AS by_
    FROM pts
  ),
  arm2 AS (
    SELECT
      CASE WHEN idx = 5 THEN (CASE WHEN cin THEN bx2 ELSE rx END)
           ELSE (CASE WHEN cin THEN rx ELSE bx2 END) END AS ax,
      CASE WHEN idx = 5 THEN (CASE WHEN cin THEN by2 ELSE ry END)
           ELSE (CASE WHEN cin THEN ry ELSE by2 END) END AS ay,
      CASE WHEN idx = 5 THEN (CASE WHEN cin THEN lx ELSE bx2 END)
           ELSE (CASE WHEN cin THEN bx2 ELSE lx END) END AS bx_,
      CASE WHEN idx = 5 THEN (CASE WHEN cin THEN ly ELSE by2 END)
           ELSE (CASE WHEN cin THEN by2 ELSE ly END) END AS by_
    FROM pts WHERE idx IN (5, 10)
  ),
  allseg AS (SELECT * FROM arm1 UNION ALL SELECT * FROM arm2),
  norm AS (
    SELECT
      CASE WHEN (ax > bx_) OR (ax = bx_ AND ay > by_) THEN bx_ ELSE ax END AS x0,
      CASE WHEN (ax > bx_) OR (ax = bx_ AND ay > by_) THEN by_ ELSE ay END AS y0,
      CASE WHEN (ax > bx_) OR (ax = bx_ AND ay > by_) THEN ax ELSE bx_ END AS x1,
      CASE WHEN (ax > bx_) OR (ax = bx_ AND ay > by_) THEN ay ELSE by_ END AS y1
    FROM norm0
  )
  SELECT x0, y0, x1, y1 FROM norm WHERE NOT (x0 = x1 AND y0 = y1)
)""")
    # fix inner CTE name collision: rename allseg->norm0 chain
    arms = [a.replace("FROM allseg", "FROM allseg").replace(
        "norm AS (", "norm AS (").replace("FROM norm0", "FROM allseg") for a in arms]
    body = "\nUNION ALL\n".join(arms)
    return f"""
WITH {_dd_base8_cte()},
contrib AS (
  SELECT b.bx - dx.i AS bx, b."by" - dy.i AS "by",
         dx.i AS dx, dy.i AS dy, b.value AS v
  FROM base b,
       (SELECT unnest([0, 1]) AS i) dx, (SELECT unnest([0, 1]) AS i) dy
),
sq AS (
  SELECT bx, "by",
         max(CASE WHEN dx=0 AND dy=0 THEN v END) AS tl,
         max(CASE WHEN dx=1 AND dy=0 THEN v END) AS tr,
         max(CASE WHEN dx=0 AND dy=1 THEN v END) AS bl,
         max(CASE WHEN dx=1 AND dy=1 THEN v END) AS br,
         count(*) AS n
  FROM contrib GROUP BY 1, 2
),
st AS ({lvl})
{body}
"""


def _o_sjoin_left() -> str:
    return f"""
WITH {_PAGES_CTE},
m AS ({_dd_rect_arms()})
SELECT p.doc_id, m.poly_id FROM pages p LEFT JOIN m ON p.doc_id = m.doc_id
"""


def _o_sjoin_clip() -> str:
    return f"""
WITH {_PAGES_CTE},
m AS ({_dd_rect_arms()})
SELECT DISTINCT doc_id FROM m
"""


def _o_sjoin_erase() -> str:
    return f"""
WITH {_PAGES_CTE},
m AS ({_dd_rect_arms()})
SELECT doc_id FROM pages WHERE doc_id NOT IN (SELECT doc_id FROM m)
"""


def _dd_rect_arms5() -> str:
    return " UNION ALL ".join(
        f"SELECT doc_id, CAST({pid} AS BIGINT) AS poly_id FROM pages "
        f"WHERE lon >= {x0} AND lon < {x1} AND lat >= {y0} AND lat < {y1}"
        for pid, x0, y0, x1, y1 in [*_RECTS, _RECT5]
    )


def _dd_area_case(col: str) -> str:
    # inject repr() of the ENGINE's shoelace doubles — never re-derive
    # rounded constants in SQL (CLAUDE.md exactness rule)
    ps = _rect5_polyset()
    whens = " ".join(f"WHEN {pid} THEN {repr(ps.area(pid))}" for pid in ps.ids)
    return f"CASE {col} {whens} ELSE NULL END"


def _dd_method_only_arm() -> str:
    ps = _rect5_polyset()
    vals = ", ".join(f"({pid})" for pid in ps.ids)
    return f"""
SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(r.pid AS BIGINT) AS poly_id,
       {_dd_area_case('r.pid')} AS poly_area
FROM (VALUES {vals}) r(pid)
WHERE r.pid NOT IN (SELECT poly_id FROM m)
"""


def _o_sjoin_identity() -> str:
    return f"""
WITH {_PAGES_CTE},
m AS ({_dd_rect_arms5()})
SELECT p.doc_id, m.poly_id, {_dd_area_case('m.poly_id')} AS poly_area
FROM pages p LEFT JOIN m ON p.doc_id = m.doc_id
"""


def _o_sjoin_union() -> str:
    return f"""
WITH {_PAGES_CTE},
m AS ({_dd_rect_arms5()})
SELECT p.doc_id, m.poly_id, {_dd_area_case('m.poly_id')} AS poly_area
FROM pages p LEFT JOIN m ON p.doc_id = m.doc_id
UNION ALL
{_dd_method_only_arm()}
"""


def _o_sjoin_symdiff() -> str:
    return f"""
WITH {_PAGES_CTE},
m AS ({_dd_rect_arms5()})
SELECT p.doc_id, CAST(NULL AS BIGINT) AS poly_id,
       CAST(NULL AS DOUBLE) AS poly_area
FROM pages p WHERE p.doc_id NOT IN (SELECT doc_id FROM m)
UNION ALL
{_dd_method_only_arm()}
"""


def _o_warp_avg() -> str:
    return f"""
WITH {_PAGES_CTE},
src AS (
  SELECT CAST(floor(lon/5.0) AS BIGINT) AS gx,
         CAST(floor(lat/5.0) AS BIGINT) AS gy,
         CAST(count(*) AS DOUBLE) AS v
  FROM pages GROUP BY 1, 2
),
ctr AS (SELECT (gx + 0.5) * 5.0 AS cx, (gy + 0.5) * 5.0 AS cy, v FROM src)
SELECT {_dd_tile_x('cx', 4)} AS x, {_dd_tile_y('cy', 4)} AS y,
       avg(v) AS value
FROM ctr GROUP BY 1, 2
"""


def _dd_warp_src(cell: float = 5.0) -> str:
    return f"""
src AS (
  SELECT CAST(floor(lon/{cell}) AS BIGINT) AS gx,
         CAST(floor(lat/{cell}) AS BIGINT) AS gy,
         CAST(count(*) AS DOUBLE) AS v
  FROM pages GROUP BY 1, 2
),
ctr AS (SELECT gx, gy, (gx + 0.5) * {cell} AS cx, (gy + 0.5) * {cell} AS cy, v FROM src)
"""


_DD_WARP_SRC = _dd_warp_src(5.0)


def _dd_tile_center_lon(x: str, z: int) -> str:
    s = repr(mercator.tile_size_meters(z))
    return f"((({x}) + 0.5) * {s} - {_OS}) / {_OS} * 180.0"


def _dd_tile_center_lat(y: str, z: int) -> str:
    # mirrors mercator.tile_center_lat_col term by term (XYZ flip folded
    # into my = OS - (y+0.5)*s); atan/exp are transcendental, so this only
    # feeds ulp-tolerant consumers (floor into a 5-degree grid, rounded
    # weighted folds)
    s = repr(mercator.tile_size_meters(z))
    inner = f"(({_OS} - (({y}) + 0.5) * {s}) / {_OS} * 180.0)"
    return f"(2.0 * atan(exp({inner} * {_PI180})) - {_PIH}) * {_DPR}"


def _o_warp_rms() -> str:
    return f"""
WITH {_PAGES_CTE},
{_DD_WARP_SRC}
SELECT {_dd_tile_x('cx', 4)} AS x, {_dd_tile_y('cy', 4)} AS y,
       sqrt(avg(v*v)) AS value
FROM ctr GROUP BY 1, 2
"""


def _o_warp_mode() -> str:
    return f"""
WITH {_PAGES_CTE},
{_DD_WARP_SRC},
q AS (SELECT {_dd_tile_x('cx', 4)} AS x, {_dd_tile_y('cy', 4)} AS y,
             CAST(CAST(v AS BIGINT) % 4 AS DOUBLE) AS v
      FROM ctr),
freq AS (SELECT x, y, v, count(*) AS n FROM q GROUP BY 1, 2, 3),
r AS (SELECT x, y, v,
             row_number() OVER (PARTITION BY x, y ORDER BY n DESC, v ASC) AS rn
      FROM freq)
SELECT x, y, v AS value FROM r WHERE rn = 1
"""


def _o_warp_q1q3() -> str:
    return f"""
WITH {_PAGES_CTE},
{_DD_WARP_SRC},
t AS (SELECT {_dd_tile_x('cx', 4)} AS x, {_dd_tile_y('cy', 4)} AS y, v FROM ctr),
r AS (SELECT x, y, v,
             row_number() OVER (PARTITION BY x, y ORDER BY v ASC) AS rn,
             count(*) OVER (PARTITION BY x, y) AS n
      FROM t)
SELECT x, y,
       max(CASE WHEN rn = greatest(1, CAST(ceil(0.25 * n) AS BIGINT)) THEN v END) AS q1,
       max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT)) THEN v END) AS med,
       max(CASE WHEN rn = greatest(1, CAST(ceil(0.75 * n) AS BIGINT)) THEN v END) AS q3
FROM r GROUP BY 1, 2
"""


def _o_warp_near() -> str:
    clon = _dd_tile_center_lon("x", 4)
    clat = _dd_tile_center_lat("y", 4)
    return f"""
WITH {_PAGES_CTE},
{_DD_WARP_SRC},
tgt AS (SELECT DISTINCT {_dd_tile_x('cx', 4)} AS x, {_dd_tile_y('cy', 4)} AS y FROM ctr),
tc AS (SELECT x, y,
              CAST(floor(({clon})/5.0) AS BIGINT) AS gx,
              CAST(floor(({clat})/5.0) AS BIGINT) AS gy
       FROM tgt)
SELECT tc.x, tc.y, s.v AS value
FROM tc JOIN src s ON s.gx = tc.gx AND s.gy = tc.gy
"""


def _o_warp_bilinear() -> str:
    clon = _dd_tile_center_lon("x", 4)
    clat = _dd_tile_center_lat("y", 4)
    return f"""
WITH {_PAGES_CTE},
{_dd_warp_src(30.0)},
tgt AS (SELECT DISTINCT {_dd_tile_x('cx', 4)} AS x, {_dd_tile_y('cy', 4)} AS y FROM ctr),
fr AS (SELECT x, y, ({clon})/30.0 - 0.5 AS fx, ({clat})/30.0 - 0.5 AS fy FROM tgt),
taps AS (
  SELECT f.x, f.y,
         CAST(floor(f.fx) AS BIGINT) + i.i AS gx,
         CAST(floor(f.fy) AS BIGINT) + j.j AS gy,
         (CASE WHEN i.i = 0 THEN 1.0 - (f.fx - floor(f.fx))
               ELSE f.fx - floor(f.fx) END)
       * (CASE WHEN j.j = 0 THEN 1.0 - (f.fy - floor(f.fy))
               ELSE f.fy - floor(f.fy) END) AS w
  FROM fr f, (SELECT unnest([0, 1]) AS i) i, (SELECT unnest([0, 1]) AS j) j
)
SELECT t.x, t.y, round(sum(t.w * s.v), 6) AS value
FROM taps t JOIN src s ON s.gx = t.gx AND s.gy = t.gy
GROUP BY 1, 2 HAVING count(*) = 4
"""


def _o_warp_conv(kernel: str) -> str:
    # identical structure to _o_warp_bilinear widened to the kernel
    # support; the weight CASE text comes from the very function the
    # Spark plan evaluates (warp.kernel_weight_sql) — op-order identity
    # across engines by construction
    r = warp.CONV_RADIUS[kernel]
    ks = ", ".join(str(k) for k in range(-(r - 1), r + 1))
    full = (2 * r) * (2 * r)
    clon = _dd_tile_center_lon("x", 4)
    clat = _dd_tile_center_lat("y", 4)
    wx = warp.kernel_weight_sql("f.fx - (floor(f.fx) + i.i)", kernel)
    wy = warp.kernel_weight_sql("f.fy - (floor(f.fy) + j.j)", kernel)
    return f"""
WITH {_PAGES_CTE},
{_dd_warp_src(30.0)},
tgt AS (SELECT DISTINCT {_dd_tile_x('cx', 4)} AS x, {_dd_tile_y('cy', 4)} AS y FROM ctr),
fr AS (SELECT x, y, ({clon})/30.0 - 0.5 AS fx, ({clat})/30.0 - 0.5 AS fy FROM tgt),
taps AS (
  SELECT f.x, f.y,
         CAST(floor(f.fx) AS BIGINT) + i.i AS gx,
         CAST(floor(f.fy) AS BIGINT) + j.j AS gy,
         ({wx}) * ({wy}) AS w
  FROM fr f, (SELECT unnest([{ks}]) AS i) i, (SELECT unnest([{ks}]) AS j) j
)
SELECT t.x, t.y, round(sum(t.w * s.v) / sum(t.w), 6) AS value
FROM taps t JOIN src s ON s.gx = t.gx AND s.gy = t.gy
GROUP BY 1, 2 HAVING count(*) = {full}
"""


def _dd_cc_label(cells_cte: str) -> str:
    """Recursive-CTE connected components over a cells(bx, "by", value)
    CTE: 4-adjacent equal-valued cells share a region; the label is the
    MIN cell key (by<<32 | bx) of the component — exactly polygonize()'s
    deterministic labeling, so min-label propagation reaches the same
    fixed point the distributed union-find does. The recursive member
    only propagates labels DOWNHILL (lbl < receiving key), which keeps
    the closure far below the naive sum-of-|comp|^2 and guarantees
    termination. (Reference shape: autotest/alg/polygonize.py recast as
    a full-grid labeling check.)"""
    return f"""{cells_cte},
kc AS (SELECT bx, "by", value, "by" * 4294967296 + bx AS k FROM cells),
cedges AS (
  SELECT a.k AS src, b.k AS dst
  FROM kc a JOIN kc b ON a.value = b.value AND
       ((b.bx = a.bx + 1 AND b."by" = a."by") OR
        (b.bx = a.bx - 1 AND b."by" = a."by") OR
        (b.bx = a.bx AND b."by" = a."by" + 1) OR
        (b.bx = a.bx AND b."by" = a."by" - 1))
),
reach AS (
  SELECT k AS node, k AS lbl FROM kc
  UNION
  SELECT e.dst AS node, r.lbl FROM reach r JOIN cedges e ON e.src = r.node
  WHERE r.lbl < e.dst
),
lab AS (SELECT node, min(lbl) AS region_id FROM reach GROUP BY node),
lc AS (SELECT kc.bx, kc."by", kc.value, lab.region_id
       FROM kc JOIN lab ON lab.node = kc.k)"""


def _o_polygonize_regions() -> str:
    cells = ('cells AS (SELECT bx, "by", '
             "CAST(min(n_chars) % 3 AS DOUBLE) AS value FROM d GROUP BY 1, 2)")
    return f"""
WITH RECURSIVE
d AS (SELECT CAST(doc_id % 40 AS BIGINT) AS bx,
             CAST(floor(doc_id/40.0) AS BIGINT) % 40 AS "by",
             n_chars
      FROM documents),
{_dd_cc_label(cells)}
SELECT bx, "by", value, region_id FROM lc
"""


def _o_sieve() -> str:
    # sieve = CC labeling + small-region merge into the largest neighbor
    # (tie: smallest region_id), value follows the absorbing region —
    # mirrors polygonize.sieve()'s window rule term for term
    cells = ('cells AS (SELECT bx, "by", '
             "CAST(floor(value/200.0) AS DOUBLE) AS value FROM base)")
    return f"""
WITH RECURSIVE {_dd_base8_cte()},
{_dd_cc_label(cells)},
sizes AS (SELECT region_id, count(*) AS n FROM lc GROUP BY 1),
adj AS (
  SELECT DISTINCT a.region_id AS ra, b.region_id AS rb
  FROM lc a JOIN lc b ON a.region_id <> b.region_id AND
       ((b.bx = a.bx + 1 AND b."by" = a."by") OR
        (b.bx = a.bx - 1 AND b."by" = a."by") OR
        (b.bx = a.bx AND b."by" = a."by" + 1) OR
        (b.bx = a.bx AND b."by" = a."by" - 1))
),
cand AS (
  SELECT s.region_id, a.rb, z.n AS nb,
         row_number() OVER (PARTITION BY s.region_id
                            ORDER BY z.n DESC, a.rb ASC) AS rk
  FROM (SELECT region_id FROM sizes WHERE n < 3) s
  JOIN adj a ON a.ra = s.region_id
  JOIN sizes z ON z.region_id = a.rb
),
target AS (SELECT region_id, rb AS tgt FROM cand WHERE rk = 1),
vals AS (SELECT region_id, min(value) AS tv FROM lc GROUP BY 1),
fin AS (
  SELECT lc.bx, lc."by", coalesce(t.tgt, lc.region_id) AS region_id
  FROM lc LEFT JOIN target t ON t.region_id = lc.region_id
)
SELECT f.bx, f."by", v.tv AS value, f.region_id
FROM fin f JOIN vals v ON v.region_id = f.region_id
"""


def _o_translate_scale() -> str:
    # mirrors scale_linear's python-computed ratio/off op order and the
    # floor(x+0.5) integer write (never CAST: its rounding differs
    # between the engines)
    return f"""
WITH {_dd_base8_cte()},
mm AS (SELECT min(value) AS lo, max(value) AS hi FROM base),
p AS (SELECT (65535.0 - 0.0) / (hi - lo) AS ratio,
             0.0 - lo * ((65535.0 - 0.0) / (hi - lo)) AS off
      FROM mm)
SELECT bx, "by",
       floor(least(greatest(value * p.ratio + p.off, 0.0), 65535.0) + 0.5)
           AS value
FROM base, p
"""


def _o_contour_polygon_bands() -> str:
    # band CASE mirrors contour_polygons' closed-top rule term for term;
    # region counts via the same recursive-CTE CC the polygonize oracle
    # uses; envelopes are exact integer cell edges
    cells = """cells AS (
  SELECT bx, "by", CAST(CASE
    WHEN value >= l.l0 AND value < l.l1 THEN 0
    WHEN value >= l.l1 AND value < l.l2 THEN 1
    WHEN value >= l.l2 AND value < l.l3 THEN 2
    WHEN value >= l.l3 AND value <= l.l4 THEN 3
  END AS DOUBLE) AS value
  FROM base, l
  WHERE value >= l.l0 AND value <= l.l4)"""
    return f"""
WITH RECURSIVE {_dd_base8_cte()},
mm AS (SELECT min(value) AS lo, max(value) AS hi FROM base),
l AS (SELECT lo AS l0, lo + (hi - lo) / 4.0 AS l1,
             lo + 2.0 * ((hi - lo) / 4.0) AS l2,
             lo + 3.0 * ((hi - lo) / 4.0) AS l3, hi AS l4
      FROM mm),
{_dd_cc_label(cells)}
SELECT CAST(lc.value AS INT) AS band,
       CASE CAST(lc.value AS INT) WHEN 0 THEN (SELECT l0 FROM l)
            WHEN 1 THEN (SELECT l1 FROM l) WHEN 2 THEN (SELECT l2 FROM l)
            ELSE (SELECT l3 FROM l) END AS elev_min,
       CASE CAST(lc.value AS INT) WHEN 0 THEN (SELECT l1 FROM l)
            WHEN 1 THEN (SELECT l2 FROM l) WHEN 2 THEN (SELECT l3 FROM l)
            ELSE (SELECT l4 FROM l) END AS elev_max,
       count(DISTINCT lc.region_id) AS n_regions,
       count(*) AS n_cells,
       CAST(count(*) AS DOUBLE) AS area,
       CAST(min(lc.bx) AS DOUBLE) AS xmin,
       CAST(min(lc."by") AS DOUBLE) AS ymin,
       CAST(max(lc.bx) + 1 AS DOUBLE) AS xmax,
       CAST(max(lc."by") + 1 AS DOUBLE) AS ymax
FROM lc GROUP BY 1
"""


def _o_rasterize_lines() -> str:
    # the Bresenham walk as a recursive CTE with generic (major, minor)
    # state: A = major delta, B = minor delta, xe = 2B, ye = 2B - 2A,
    # err0 = 2B - A; each recursion step advances the major coordinate
    # and conditionally the minor — integer-exact, total rows bounded by
    # the segment lengths (a dimension-side constant)
    return """
WITH RECURSIVE
segs AS (
  SELECT CAST(n_nationkey AS BIGINT) AS lid,
         CAST(floor((n_nationkey*7919 % 2000)/10.0) AS BIGINT) AS ix0,
         CAST(floor(200.0 - (n_nationkey*104729 % 2000)/10.0) AS BIGINT) AS iy0,
         CAST(floor((n_nationkey*9973 % 2000)/10.0) AS BIGINT) AS ix1,
         CAST(floor(200.0 - (n_nationkey*6151 % 2000)/10.0) AS BIGINT) AS iy1
  FROM nation
),
init AS (
  SELECT lid, ix0 AS ix, iy0 AS iy,
         abs(ix1 - ix0) >= abs(iy1 - iy0) AS xmaj,
         CASE WHEN ix0 > ix1 THEN -1 ELSE 1 END AS sx,
         CASE WHEN iy0 > iy1 THEN -1 ELSE 1 END AS sy,
         CASE WHEN abs(ix1 - ix0) >= abs(iy1 - iy0)
              THEN abs(ix1 - ix0) ELSE abs(iy1 - iy0) END AS a,
         CASE WHEN abs(ix1 - ix0) >= abs(iy1 - iy0)
              THEN abs(iy1 - iy0) ELSE abs(ix1 - ix0) END AS b
  FROM segs
),
walk(lid, xmaj, sx, sy, xe, ye, ix, iy, err, nd) AS (
  SELECT lid, xmaj, sx, sy, 2*b, 2*b - 2*a, ix, iy, 2*b - a, a FROM init
  UNION ALL
  SELECT lid, xmaj, sx, sy, xe, ye,
         CASE WHEN xmaj THEN ix + sx
              ELSE CASE WHEN err > 0 THEN ix + sx ELSE ix END END,
         CASE WHEN xmaj THEN CASE WHEN err > 0 THEN iy + sy ELSE iy END
              ELSE iy + sy END,
         CASE WHEN err > 0 THEN err + ye ELSE err + xe END,
         nd - 1
  FROM walk WHERE nd > 0
),
burned AS (
  SELECT lid, ix, iy FROM walk
  WHERE ix >= 0 AND ix < 200 AND iy >= 0 AND iy < 200
)
SELECT ix AS bx, 199 - iy AS "by", CAST(max(lid) AS DOUBLE) AS value
FROM burned GROUP BY 1, 2
"""


def _o_raster_calc() -> str:
    return """
WITH d AS (
  SELECT CAST(doc_id % 25 AS BIGINT) AS bx,
         CAST(floor(doc_id/25) AS BIGINT) % 20 AS "by", n_chars
  FROM documents
),
a AS (SELECT bx, "by", CAST(sum(n_chars) AS DOUBLE) AS av FROM d GROUP BY 1, 2),
b AS (SELECT bx, "by", CAST(count(*) AS DOUBLE) AS bv FROM d GROUP BY 1, 2),
m AS (SELECT a.bx, a."by", a.av / b.bv AS v
      FROM a JOIN b ON a.bx = b.bx AND a."by" = b."by")
SELECT bx, "by",
       CAST(CASE WHEN v < 200.0 THEN 0 WHEN v < 300.0 THEN 1
                 WHEN v < 400.0 THEN 2 ELSE 3 END AS INTEGER) AS value
FROM m
"""


def _o_interp_cubic() -> str:
    return f"""
WITH {_dd_base8_cte()},
pts AS (
  SELECT p_partkey AS pt_id, (p_partkey*7919 % 24925)/997.0 AS px,
         (p_partkey*6151 % 19940)/997.0 AS py
  FROM part
),
taps AS (
  SELECT mx.i AS mx, my.i AS my
  FROM (SELECT unnest([-1, 0, 1, 2]) AS i) mx,
       (SELECT unnest([-1, 0, 1, 2]) AS i) my
),
expl AS (
  SELECT pt_id, px, py,
         CAST(floor(px - 0.5) AS BIGINT) + m.mx AS bx,
         CAST(floor(py - 0.5) AS BIGINT) + m.my AS "by",
         (CASE WHEN abs((CAST(m.mx AS DOUBLE) - (px - 0.5 - floor(px - 0.5)))) <= 1.0 THEN (1.5*abs((CAST(m.mx AS DOUBLE) - (px - 0.5 - floor(px - 0.5)))) - 2.5)*abs((CAST(m.mx AS DOUBLE) - (px - 0.5 - floor(px - 0.5))))*abs((CAST(m.mx AS DOUBLE) - (px - 0.5 - floor(px - 0.5)))) + 1.0 WHEN abs((CAST(m.mx AS DOUBLE) - (px - 0.5 - floor(px - 0.5)))) < 2.0 THEN ((-0.5*abs((CAST(m.mx AS DOUBLE) - (px - 0.5 - floor(px - 0.5)))) + 2.5)*abs((CAST(m.mx AS DOUBLE) - (px - 0.5 - floor(px - 0.5)))) - 4.0)*abs((CAST(m.mx AS DOUBLE) - (px - 0.5 - floor(px - 0.5)))) + 2.0 ELSE 0.0 END)
       * (CASE WHEN abs((CAST(m.my AS DOUBLE) - (py - 0.5 - floor(py - 0.5)))) <= 1.0 THEN (1.5*abs((CAST(m.my AS DOUBLE) - (py - 0.5 - floor(py - 0.5)))) - 2.5)*abs((CAST(m.my AS DOUBLE) - (py - 0.5 - floor(py - 0.5))))*abs((CAST(m.my AS DOUBLE) - (py - 0.5 - floor(py - 0.5)))) + 1.0 WHEN abs((CAST(m.my AS DOUBLE) - (py - 0.5 - floor(py - 0.5)))) < 2.0 THEN ((-0.5*abs((CAST(m.my AS DOUBLE) - (py - 0.5 - floor(py - 0.5)))) + 2.5)*abs((CAST(m.my AS DOUBLE) - (py - 0.5 - floor(py - 0.5)))) - 4.0)*abs((CAST(m.my AS DOUBLE) - (py - 0.5 - floor(py - 0.5)))) + 2.0 ELSE 0.0 END) AS w
  FROM pts, taps m
),
hit AS (
  SELECT e.pt_id, e.px, e.py, e.w, b.value
  FROM expl e JOIN base b ON e.bx = b.bx AND e."by" = b."by"
)
SELECT pt_id, px, py, round(sum(w*value)/sum(w), 6) AS value
FROM hit GROUP BY 1, 2, 3 HAVING count(*) = 16
"""


def _o_interp_nearest() -> str:
    return f"""
WITH {_dd_base8_cte()},
pts AS (
  SELECT p_partkey AS pt_id, (p_partkey*7919 % 250)/10.0 AS px,
         (p_partkey*6151 % 200)/10.0 AS py
  FROM part
)
SELECT p.pt_id, p.px, p.py, b.value
FROM pts p JOIN base b
  ON CAST(floor(p.px) AS BIGINT) = b.bx AND CAST(floor(p.py) AS BIGINT) = b."by"
"""


def _o_sjoin_update() -> str:
    return f"""
WITH {_PAGES_CTE},
m AS ({_dd_rect_arms()})
SELECT p.doc_id,
       CASE WHEN m.poly_id IS NOT NULL THEN 'zone_' || CAST(m.poly_id AS VARCHAR)
            ELSE p.lang END AS tag
FROM pages p LEFT JOIN m ON p.doc_id = m.doc_id
"""


def _o_contour() -> str:
    # mirrors operators/contour.py: 2x2 square pivot -> 16-case marching
    # squares -> linear edge interpolation -> normalized segments; the
    # level is the grid mean (scalar subquery — exact, see _q_contour)
    L = "(SELECT avg(value) FROM base)"
    return f"""
WITH {_dd_base8_cte()},
contrib AS (
  SELECT b.bx - dx.i AS bx, b."by" - dy.i AS "by",
         dx.i AS dx, dy.i AS dy, b.value AS v
  FROM base b,
       (SELECT unnest([0, 1]) AS i) dx, (SELECT unnest([0, 1]) AS i) dy
),
sq AS (
  SELECT bx, "by",
         max(CASE WHEN dx=0 AND dy=0 THEN v END) AS tl,
         max(CASE WHEN dx=1 AND dy=0 THEN v END) AS tr,
         max(CASE WHEN dx=0 AND dy=1 THEN v END) AS bl,
         max(CASE WHEN dx=1 AND dy=1 THEN v END) AS br,
         count(*) AS n
  FROM contrib GROUP BY 1, 2
),
c AS (
  SELECT CAST(bx AS DOUBLE) AS bxd, CAST("by" AS DOUBLE) AS byd,
         tl, tr, bl, br,
         (CASE WHEN tl >= {L} THEN 1 ELSE 0 END)
       + (CASE WHEN tr >= {L} THEN 2 ELSE 0 END)
       + (CASE WHEN br >= {L} THEN 4 ELSE 0 END)
       + (CASE WHEN bl >= {L} THEN 8 ELSE 0 END) AS idx,
         (tl + tr + bl + br) / 4.0 >= {L} AS cin
  FROM sq WHERE n = 4
),
pts AS (
  SELECT idx, cin,
         bxd + ({L} - tl) / (tr - tl) AS tx, byd AS ty,
         bxd + 1.0 AS rx, byd + ({L} - tr) / (br - tr) AS ry,
         bxd + ({L} - bl) / (br - bl) AS bx2, byd + 1.0 AS by2,
         bxd AS lx, byd + ({L} - tl) / (bl - tl) AS ly
  FROM c WHERE idx NOT IN (0, 15)
),
arm1 AS (
  SELECT
    CASE WHEN idx IN (3,12,7,8) THEN lx WHEN idx IN (4,11) THEN rx ELSE tx END AS ax,
    CASE WHEN idx IN (3,12,7,8) THEN ly WHEN idx IN (4,11) THEN ry ELSE ty END AS ay,
    CASE WHEN idx IN (1,14) THEN lx WHEN idx IN (2,13,3,12) THEN rx
         WHEN idx IN (4,11,6,9,7,8) THEN bx2
         WHEN idx = 5 THEN (CASE WHEN cin THEN rx ELSE lx END)
         ELSE (CASE WHEN cin THEN lx ELSE rx END) END AS bx_,
    CASE WHEN idx IN (1,14) THEN ly WHEN idx IN (2,13,3,12) THEN ry
         WHEN idx IN (4,11,6,9,7,8) THEN by2
         WHEN idx = 5 THEN (CASE WHEN cin THEN ry ELSE ly END)
         ELSE (CASE WHEN cin THEN ly ELSE ry END) END AS by_
  FROM pts
),
arm2 AS (
  SELECT
    CASE WHEN idx = 5 THEN (CASE WHEN cin THEN bx2 ELSE rx END)
         ELSE (CASE WHEN cin THEN rx ELSE bx2 END) END AS ax,
    CASE WHEN idx = 5 THEN (CASE WHEN cin THEN by2 ELSE ry END)
         ELSE (CASE WHEN cin THEN ry ELSE by2 END) END AS ay,
    CASE WHEN idx = 5 THEN (CASE WHEN cin THEN lx ELSE bx2 END)
         ELSE (CASE WHEN cin THEN bx2 ELSE lx END) END AS bx_,
    CASE WHEN idx = 5 THEN (CASE WHEN cin THEN ly ELSE by2 END)
         ELSE (CASE WHEN cin THEN by2 ELSE ly END) END AS by_
  FROM pts WHERE idx IN (5, 10)
),
allseg AS (SELECT * FROM arm1 UNION ALL SELECT * FROM arm2),
norm AS (
  SELECT
    CASE WHEN (ax > bx_) OR (ax = bx_ AND ay > by_) THEN bx_ ELSE ax END AS x0,
    CASE WHEN (ax > bx_) OR (ax = bx_ AND ay > by_) THEN by_ ELSE ay END AS y0,
    CASE WHEN (ax > bx_) OR (ax = bx_ AND ay > by_) THEN ax ELSE bx_ END AS x1,
    CASE WHEN (ax > bx_) OR (ax = bx_ AND ay > by_) THEN ay ELSE by_ END AS y1
  FROM allseg
)
SELECT x0, y0, x1, y1 FROM norm WHERE NOT (x0 = x1 AND y0 = y1)
"""


_DD_PROX_GRID = """grid AS (
  SELECT CAST(doc_id % 25 AS BIGINT) AS bx,
         CAST(floor(doc_id/25) AS BIGINT) % 20 AS "by",
         CAST(min(doc_id) % 5 AS DOUBLE) AS value
  FROM documents GROUP BY 1, 2
)"""


def _o_proximity() -> str:
    return f"""
WITH {_DD_PROX_GRID},
t AS (SELECT bx, "by" FROM grid WHERE value = 0.0),
expl AS (
  SELECT t.bx + dx.i AS bx, t."by" + dy.i AS "by",
         sqrt(CAST(dx.i*dx.i + dy.i*dy.i AS DOUBLE)) AS d
  FROM t,
       (SELECT unnest(generate_series(-3, 3)) AS i) dx,
       (SELECT unnest(generate_series(-3, 3)) AS i) dy
  WHERE dx.i*dx.i + dy.i*dy.i <= 12.25
)
SELECT bx, "by", min(d) AS dist FROM expl GROUP BY 1, 2
"""


def _o_fillnodata() -> str:
    return f"""
WITH {_dd_base8_cte()},
holes AS (SELECT * FROM base WHERE (bx*31 + "by") % 7 <> 0),
expl AS (
  SELECT h.bx + dx.i AS bx, h."by" + dy.i AS "by", h.value AS v,
         CAST(dx.i*dx.i + dy.i*dy.i AS DOUBLE) AS d2
  FROM holes h,
       (SELECT unnest(generate_series(-2, 2)) AS i) dx,
       (SELECT unnest(generate_series(-2, 2)) AS i) dy
  WHERE dx.i*dx.i + dy.i*dy.i <= 6.25 AND dx.i*dx.i + dy.i*dy.i > 0
),
idw AS (SELECT bx, "by", sum(v/d2)/sum(1.0/d2) AS fill FROM expl GROUP BY 1, 2)
SELECT bx, "by", round(value, 6) AS value, 0 AS filled FROM holes
UNION ALL
SELECT i.bx, i."by", round(i.fill, 6) AS value, 1 AS filled
FROM idw i LEFT JOIN holes h ON i.bx = h.bx AND i."by" = h."by"
WHERE h.bx IS NULL
"""


def _dd_dense_contrib(include_center: bool) -> str:
    cond = "" if include_center else "WHERE NOT (dx.i = 0 AND dy.i = 0)"
    return f"""{_dd_base8_cte()},
contrib AS (
  SELECT b.bx + dx.i AS bx, b."by" + dy.i AS "by", b.value AS v
  FROM base b,
       (SELECT unnest([-1, 0, 1]) AS i) dx,
       (SELECT unnest([-1, 0, 1]) AS i) dy
  {cond}
)"""


def _o_embed_neardup() -> str:
    return """
WITH allv AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 50
),
p AS (
  SELECT a.vec_id ia, b.vec_id ib,
         list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
),
losers AS (SELECT DISTINCT ib AS vec_id FROM p WHERE cos >= 0.999)
SELECT vec_id FROM allv WHERE vec_id NOT IN (SELECT vec_id FROM losers)
"""


_DD_GRAPH = """
edges0 AS (
  SELECT CAST(n_nationkey AS BIGINT) AS src,
         CAST(n_regionkey + 100 AS BIGINT) AS dst,
         CAST(n_nationkey % 5 + 1 AS DOUBLE) AS w
  FROM nation
),
edges AS (SELECT * FROM edges0 UNION ALL SELECT dst, src, w FROM edges0)
"""


def _o_graph_sssp() -> str:
    # bounded-hop path enumeration (diameter of the bipartite graph is
    # tiny) then min per vertex — Bellman-Ford as a recursive CTE
    return f"""
WITH RECURSIVE {_DD_GRAPH},
r(vertex, dist, hops) AS (
  SELECT CAST(0 AS BIGINT), 0.0, 0
  UNION ALL
  SELECT e.dst, r.dist + e.w, r.hops + 1
  FROM r JOIN edges e ON e.src = r.vertex WHERE r.hops < 6
)
SELECT vertex, min(dist) AS dist FROM r GROUP BY 1
"""


def _o_pagerank_docs() -> str:
    # the pagerank recurrence UNROLLED as chained GROUP-BY CTEs (no
    # aggregation allowed in a recursive CTE term): all-BIGINT math —
    # duckdb's `//` and Spark's `div` agree for positive operands; SUM
    # over BIGINT is HUGEINT in duckdb, so every rank is cast back.
    links = "\n  UNION ALL ".join(
        f"SELECT v AS src, (v * {a} + {b}) % n.n AS dst FROM nodes, n"
        for a, b in _PR_LINKS)
    base = (_PR_SCALE * 15) // 100
    iters = "".join(f"""
r{i + 1} AS (
  SELECT nodes.v,
         CAST({base} + COALESCE(s.c, 0) AS BIGINT) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.dst AS v,
           CAST(SUM((r.rank * 85) // (100 * d.outdeg)) AS BIGINT) AS c
    FROM r{i} r JOIN edges e ON e.src = r.v JOIN deg d ON d.src = r.v
    GROUP BY e.dst) s ON s.v = nodes.v
),""" for i in range(_PR_ITERS))
    return f"""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
nodes AS (SELECT CAST(doc_id AS BIGINT) AS v FROM documents),
links AS (
  {links}
),
edges AS (SELECT DISTINCT src, dst FROM links WHERE src <> dst),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
        FROM edges GROUP BY src),
r0 AS (SELECT v, CAST({_PR_SCALE} AS BIGINT) AS rank FROM nodes),{iters}
placeholder AS (SELECT 1)
SELECT v AS vertex, rank FROM r{_PR_ITERS}
ORDER BY rank DESC, v LIMIT 25
"""


def _km_chain() -> str:
    # Lloyd k-means unrolled as chained CTEs: quantize (the shared
    # floor(x*quant + 0.5) half-rule), stride-sample init, then per
    # iteration assignment (cross join x row_number tie-break on
    # (d2, ci) == Spark's lexicographic array_min) and update
    # (per-dimension BIGINT sums, `//` == Spark `div` toward zero,
    # LEFT JOIN + COALESCE keeps empty clusters). All-integer math:
    # bit-exact vs the engine. Returns the WITH-body up through the
    # `final` assignment CTE — shared by kmeans_docs and semdedup_docs.
    d = 64  # testdata embedding dimension
    sums = ", ".join(f"CAST(sum(q[{j + 1}]) AS BIGINT)" for j in range(d))
    assign = """
  SELECT vec_id, q, ci, d2 FROM (
    SELECT vec_id, q, ci, d2,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, ci) AS rn
    FROM (SELECT p.vec_id, p.q, c.ci,
                 CAST(list_sum(list_transform(list_zip(p.q, c.c),
                      s -> (s[1]-s[2])*(s[1]-s[2]))) AS BIGINT) AS d2
          FROM qpts p CROSS JOIN c{t} c))
  WHERE rn = 1"""
    steps = "".join(f"""
a{t} AS ({assign.format(t=t)}
),
u{t} AS (
  SELECT ci, CAST(count(*) AS BIGINT) AS n, [{sums}] AS s
  FROM a{t} GROUP BY ci
),
c{t + 1} AS (
  SELECT c.ci, coalesce(list_transform(u.s, v -> v // u.n), c.c) AS c
  FROM c{t} c LEFT JOIN u{t} u ON c.ci = u.ci
),""" for t in range(_KM_ITERS))
    return f"""
WITH qpts AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * {float(_KM_QUANT)!r} + 0.5)
                  AS BIGINT)) AS q
  FROM embeddings
),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, q AS c
  FROM qpts
  WHERE vec_id % (SELECT count(*) // {_KM_K} FROM qpts) = 0
  ORDER BY vec_id LIMIT {_KM_K}
),{steps}
final AS ({assign.format(t=_KM_ITERS)}
)"""


def _o_kmeans_docs() -> str:
    return _km_chain() + """
SELECT vec_id, CAST(ci AS BIGINT) AS cluster, d2 AS dist2 FROM final
"""


def _o_cluster_prune() -> str:
    # the kmeans chain + one ranking window; the keep test mirrors the
    # engine's integer inequality rank * keep_den <= n * keep_num
    return _km_chain() + """
SELECT vec_id, cluster, dist2, rank, (rank * 5 <= n * 2) AS kept FROM (
  SELECT vec_id, CAST(ci AS BIGINT) AS cluster, d2 AS dist2,
         CAST(row_number() OVER (
             PARTITION BY ci ORDER BY d2 DESC, vec_id ASC) AS BIGINT)
             AS rank,
         count(*) OVER (PARTITION BY ci) AS n
  FROM final)
"""


def _o_semdedup_docs() -> str:
    # SemDeDup keep-first rule on top of the kmeans chain: within a
    # cluster, a is a dup iff some b with b.vec_id < a.vec_id has
    # cos(a,b) >= tau. Integer-exact: dot > 0 AND tau_den^2*dot^2 >=
    # tau_num^2*nsq_a*nsq_b in HUGEINT (Spark twin: DECIMAL(38,0));
    # list_sum returns double but all values <= ~1.8e13 < 2^53, exact.
    t2n, t2d = _SD_TAU_NUM ** 2, _SD_TAU_DEN ** 2
    return _km_chain() + f""",
nsqs AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nsq
  FROM qpts
),
dotp AS (
  SELECT a.vec_id AS aid,
         CAST(list_sum(list_transform(list_zip(qa.q, qb.q),
              s -> s[1]*s[2])) AS BIGINT) AS dot,
         na.nsq AS ansq, nb.nsq AS bnsq
  FROM final a JOIN final b ON a.ci = b.ci AND b.vec_id < a.vec_id
  JOIN qpts qa ON qa.vec_id = a.vec_id
  JOIN qpts qb ON qb.vec_id = b.vec_id
  JOIN nsqs na ON na.vec_id = a.vec_id
  JOIN nsqs nb ON nb.vec_id = b.vec_id
),
dup AS (
  SELECT DISTINCT aid AS vec_id FROM dotp
  WHERE dot > 0
    AND CAST({t2d} AS HUGEINT) * dot * dot
        >= CAST({t2n} AS HUGEINT) * ansq * bnsq
)
SELECT a.vec_id, CAST(a.ci AS BIGINT) AS cluster,
       (d.vec_id IS NOT NULL) AS is_dup
FROM final a LEFT JOIN dup d ON d.vec_id = a.vec_id
"""


def _o_inverted_index() -> str:
    return """
WITH base AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+')
                       AS t FROM documents),
pairs AS (SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id,
                 unnest(t) AS term FROM base),
agg AS (SELECT term, COUNT(*) AS df,
               string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY doc_id) AS postings
        FROM pairs GROUP BY term)
SELECT term, df, postings,
       ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rank
FROM agg WHERE df >= 2 ORDER BY df DESC, term LIMIT 100
"""


_DD_KPATH_GRAPH = """
star0 AS (
  SELECT CAST(n_nationkey AS BIGINT) AS src,
         CAST(n_regionkey + 100 AS BIGINT) AS dst,
         CAST(n_nationkey % 5 + 1 AS DOUBLE) AS w
  FROM nation
),
chain0 AS (
  SELECT CAST(n_nationkey AS BIGINT) AS src,
         CAST(n_nationkey + 1 AS BIGINT) AS dst,
         CAST(n_nationkey % 7 + 2 AS DOUBLE) AS w
  FROM nation WHERE n_nationkey < 24
),
e0 AS (SELECT * FROM star0 UNION ALL SELECT * FROM chain0),
edges AS (SELECT * FROM e0 UNION ALL SELECT dst, src, w FROM e0)
"""


def _o_rpc_project() -> str:
    # the forward RPC model with %.17e::DOUBLE-injected coefficients
    # (NOT repr — dl() explains the duckdb double-rounding trap); the folds
    # mirror geo/rpc.py:_eval exactly — even and odd running sums
    # (left-associated " + " chains), added last, like the reference's
    # RPCEvaluate (gdal_rpc.cpp:337)
    m = _rpc_demo_model()

    def dl(x):
        # NOT repr: duckdb parses a bare decimal literal as exact
        # DECIMAL and casts to double afterwards — double rounding that
        # lands 1 ulp off Python/Spark's direct string->double for some
        # values (hit: 1/997). E-notation lexes as DOUBLE directly and
        # %.17e round-trips every float (verified over all 96 model
        # constants).
        return f"{x:.17e}::DOUBLE"

    exprs = ["1.0::DOUBLE", "L", "P", "H", "L * P", "L * H", "P * H",
             "L * L", "P * P", "H * H", "L * P * H", "L * L * L",
             "L * P * P", "L * H * H", "L * L * P", "P * P * P",
             "P * H * H", "L * L * H", "P * P * H", "H * H * H"]
    term_cols = ",\n         ".join(
        f"{e} AS t{i}" for i, e in enumerate(exprs))

    def fold(coefs):
        ev = " + ".join(f"(t{i} * {dl(coefs[i])})" for i in range(0, 20, 2))
        od = " + ".join(f"(t{i} * {dl(coefs[i])})" for i in range(1, 20, 2))
        return f"(({ev}) + ({od}))"

    return f"""
WITH c AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {dl(m.long_off)} + ((doc_id % 997) * {dl(_RPC_T997)} - 0.5::DOUBLE)
             * {dl(_RPC_LON_SPAN)} AS lon,
         {dl(m.lat_off)} + ((doc_id % 991) * {dl(_RPC_T991)} - 0.5::DOUBLE)
             * {dl(_RPC_LAT_SPAN)} AS lat,
         {dl(m.height_off)} + ((doc_id % 983) * {dl(_RPC_T983)} - 0.5::DOUBLE)
             * {dl(_RPC_H_SPAN)} AS z
  FROM documents
),
n AS (
  SELECT doc_id,
         (lon - {dl(m.long_off)}) / {dl(m.long_scale)} AS L,
         (lat - {dl(m.lat_off)}) / {dl(m.lat_scale)} AS P,
         ((z + 0.0::DOUBLE) - {dl(m.height_off)}) / {dl(m.height_scale)} AS H
  FROM c
),
t AS (
  SELECT doc_id,
         {term_cols}
  FROM n
)
SELECT doc_id,
       ({fold(m.samp_num)} / {fold(m.samp_den)})
           * {dl(m.samp_scale)} + {dl(m.samp_off)} + 0.5::DOUBLE AS pixel,
       ({fold(m.line_num)} / {fold(m.line_den)})
           * {dl(m.line_scale)} + {dl(m.line_off)} + 0.5::DOUBLE AS line
FROM t
"""


def _o_graph_sssp_blocked() -> str:
    # barrier semantics mirrored exactly: drop edges INTO blocked vertex
    # 100 (dst check only — gnmgraph.cpp:529) and both directions of the
    # blocked undirected edge (3,4); then min over simple paths (the
    # optimal blocked paths need <= 6 hops, enumerate to 9 for margin;
    # weights are small integers, so double sums are exact in any order)
    return f"""
WITH RECURSIVE {_DD_KPATH_GRAPH},
bedges AS (
  SELECT * FROM edges
  WHERE dst <> 100
    AND NOT (src = 3 AND dst = 4) AND NOT (src = 4 AND dst = 3)
),
r(vertex, dist, path, hops) AS (
  SELECT CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), '|0|', 0
  UNION ALL
  SELECT e.dst, r.dist + e.w, r.path || CAST(e.dst AS VARCHAR) || '|',
         r.hops + 1
  FROM r JOIN bedges e ON e.src = r.vertex
  WHERE r.hops < 9
    AND r.path NOT LIKE '%|' || CAST(e.dst AS VARCHAR) || '|%'
)
SELECT vertex, min(dist) AS dist FROM r GROUP BY 1
"""


def _o_graph_kpaths() -> str:
    # same exhaustive simple-path enumeration: extend by one edge per
    # recursion level (8 max), exclude revisits via the path string, stop
    # paths that reached the target, then top-5 by (cost, path)
    return f"""
WITH RECURSIVE {_DD_KPATH_GRAPH},
p(vertex, cost, path, hops) AS (
  SELECT CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), '|0|', 0
  UNION ALL
  SELECT e.dst, p.cost + e.w, p.path || CAST(e.dst AS VARCHAR) || '|',
         p.hops + 1
  FROM p JOIN edges e ON e.src = p.vertex
  WHERE p.hops < 8 AND p.vertex <> 6
    AND p.path NOT LIKE '%|' || CAST(e.dst AS VARCHAR) || '|%'
)
SELECT CAST(row_number() OVER (ORDER BY cost, path) AS BIGINT) AS rank,
       cost, path
FROM p WHERE vertex = 6 ORDER BY cost, path LIMIT 5
"""


def _o_graph_components() -> str:
    return f"""
WITH RECURSIVE {_DD_GRAPH},
verts AS (SELECT DISTINCT src AS v FROM edges),
reach(vertex, other) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.vertex, e.dst FROM reach r JOIN edges e ON e.src = r.other
)
SELECT vertex, min(other) AS component FROM reach GROUP BY 1
"""


def _o_dem_tpi() -> str:
    return f"""
WITH {_dd_dense_contrib(False)},
g AS (SELECT bx, "by", avg(v) AS m FROM contrib GROUP BY 1, 2)
SELECT b.bx, b."by", b.value, round(b.value - g.m, 9) AS tpi
FROM base b JOIN g ON b.bx = g.bx AND b."by" = g."by"
"""


def _o_dem_roughness() -> str:
    return f"""
WITH {_dd_dense_contrib(True)},
g AS (SELECT bx, "by", max(v) - min(v) AS r FROM contrib GROUP BY 1, 2)
SELECT b.bx, b."by", b.value, g.r AS roughness
FROM base b JOIN g ON b.bx = g.bx AND b."by" = g."by"
"""


_DD_GRID997 = """
pts AS (
  SELECT (p_partkey*9973 % 199400)/997.0 AS x, (p_partkey*6151 % 199400)/997.0 AS y,
         CAST(p_retailprice AS DOUBLE) AS z
  FROM part
),
cand AS (
  SELECT CAST(floor(x/10.0) AS BIGINT) + dx.i AS bx,
         CAST(floor(y/10.0) AS BIGINT) + dy.i AS "by", x, y, z
  FROM pts,
       (SELECT unnest(generate_series(-3, 3)) AS i) dx,
       (SELECT unnest(generate_series(-3, 3)) AS i) dy
),
d AS (
  SELECT bx, "by", x, y, z,
         sqrt(((bx+0.5)*10.0 - x)*((bx+0.5)*10.0 - x)
              + (("by"+0.5)*10.0 - y)*(("by"+0.5)*10.0 - y)) AS dist
  FROM cand
),
f AS (SELECT * FROM d WHERE dist <= 15.0)
"""


def _o_mdim_subset_reduce() -> str:
    return """
WITH a AS (
  SELECT CAST(doc_id % 10 AS BIGINT) AS d0,
         CAST(floor(doc_id/10) AS BIGINT) % 10 AS d1,
         CAST(floor(doc_id/100) AS BIGINT) % 5 AS d2,
         CAST(sum(n_chars) AS DOUBLE) AS value
  FROM documents GROUP BY 1, 2, 3
),
s AS (
  SELECT CAST((d0 - 2) / 2 AS BIGINT) AS d0, d1, d2, value
  FROM a WHERE d0 >= 2 AND d0 < 8 AND (d0 - 2) % 2 = 0
)
SELECT d0, d1, avg(value) AS value FROM s GROUP BY 1, 2
"""


def _o_pansharpen() -> str:
    return """
WITH d AS (
  SELECT CAST(doc_id % 25 AS BIGINT) AS bx,
         CAST(floor(doc_id/25) AS BIGINT) % 20 AS "by",
         doc_id, n_chars
  FROM documents
),
pan AS (SELECT bx, "by", CAST(sum(n_chars) AS DOUBLE) AS pv FROM d GROUP BY 1, 2),
r AS (SELECT bx, "by", CAST(count(*) AS DOUBLE) AS rv FROM d GROUP BY 1, 2),
g AS (SELECT bx, "by", CAST(sum(doc_id % 97) AS DOUBLE) AS gv FROM d GROUP BY 1, 2),
b AS (SELECT bx, "by", CAST(min(n_chars) AS DOUBLE) AS bv FROM d GROUP BY 1, 2),
j AS (
  SELECT pan.bx, pan."by", pv, rv, gv, bv,
         pv / (0.25 * rv + 0.5 * gv + 0.25 * bv) AS ratio
  FROM pan
  JOIN r ON pan.bx = r.bx AND pan."by" = r."by"
  JOIN g ON pan.bx = g.bx AND pan."by" = g."by"
  JOIN b ON pan.bx = b.bx AND pan."by" = b."by"
)
SELECT bx, "by", rv * ratio AS r, gv * ratio AS g, bv * ratio AS b FROM j
"""


def _o_raster_checksum() -> str:
    primes = "[7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]"
    return f"""
WITH {_dd_base8_cte()},
t AS (
  SELECT ((19 - "by") * 25 + bx) % 11 AS idx,
         CAST(floor(value + 0.5) AS BIGINT) AS v
  FROM base
  WHERE bx >= 0 AND bx < 25 AND "by" >= 0 AND "by" < 20
)
SELECT CAST(sum(v % ({primes})[idx + 1]) AS BIGINT) & 65535 AS checksum
FROM t
"""


def _o_viewshed() -> str:
    return f"""
WITH {_dd_base8_cte()},
obs AS (SELECT value + 2.0 AS oz FROM base WHERE bx = 12 AND "by" = 10),
t AS (
  SELECT bx, "by", value, bx - 12 AS dx, "by" - 10 AS dy,
         greatest(abs(bx - 12), abs("by" - 10)) AS n
  FROM base
  WHERE (bx-12)*(bx-12) + ("by"-10)*("by"-10) <= 64.0
),
s AS (
  SELECT bx, "by", value, n, dx, dy,
         unnest(generate_series(1, CAST(n - 1 AS BIGINT))) AS j
  FROM t WHERE n >= 2
),
sp AS (
  SELECT bx, "by", value, n, j,
         CAST(floor(12.0 + dx*j/n + 0.5) AS BIGINT) AS sx,
         CAST(floor(10.0 + dy*j/n + 0.5) AS BIGINT) AS sy
  FROM s
),
blocked AS (
  SELECT DISTINCT sp.bx, sp."by"
  FROM sp JOIN base b ON b.bx = sp.sx AND b."by" = sp.sy
  WHERE (b.value - (SELECT oz FROM obs)) * sp.n / sp.j
        >= (sp.value - (SELECT oz FROM obs))
)
SELECT t.bx, t."by", t.value,
       CAST(CASE WHEN bl.bx IS NOT NULL THEN 0 ELSE 1 END AS INT) AS visible
FROM t LEFT JOIN blocked bl ON t.bx = bl.bx AND t."by" = bl."by"
"""


def _o_viewshed_curv() -> str:
    # CH mirrors the operator's precomputed quotient term for term
    # (curve_coeff * cell^2 / earth_diameter with the same python floats)
    from lib_gdal_spark.operators import viewshed as _vs

    ch = repr(_vs.CURVE_COEFF_DEFAULT * 10000.0 * 10000.0
              / _vs.EARTH_DIAMETER)
    return f"""
WITH {_dd_base8_cte()},
obs AS (SELECT value + 2.0 AS oz FROM base WHERE bx = 12 AND "by" = 10),
t AS (
  SELECT bx, "by", value, bx - 12 AS dx, "by" - 10 AS dy,
         greatest(abs(bx - 12), abs("by" - 10)) AS n,
         (bx-12)*(bx-12) + ("by"-10)*("by"-10) AS d2
  FROM base
  WHERE (bx-12)*(bx-12) + ("by"-10)*("by"-10) <= 64.0
),
s AS (
  SELECT bx, "by", value, n, dx, dy, d2,
         unnest(generate_series(1, CAST(n - 1 AS BIGINT))) AS j
  FROM t WHERE n >= 2
),
sp AS (
  SELECT bx, "by", value, n, j, d2,
         CAST(floor(12.0 + dx*j/n + 0.5) AS BIGINT) AS sx,
         CAST(floor(10.0 + dy*j/n + 0.5) AS BIGINT) AS sy
  FROM s
),
blocked AS (
  SELECT DISTINCT sp.bx, sp."by"
  FROM sp JOIN base b ON b.bx = sp.sx AND b."by" = sp.sy
  WHERE ((b.value - (SELECT oz FROM obs))
         - {ch} * sp.d2 * sp.j * sp.j / (sp.n * sp.n)) * sp.n / sp.j
        >= sp.value + 20.0 - (SELECT oz FROM obs) - {ch} * sp.d2
)
SELECT t.bx, t."by", t.value,
       CAST(CASE WHEN bl.bx IS NOT NULL THEN 0 ELSE 1 END AS INT) AS visible
FROM t LEFT JOIN blocked bl ON t.bx = bl.bx AND t."by" = bl."by"
"""


def _o_viewshed_minheight() -> str:
    return f"""
WITH {_dd_base8_cte()},
obs AS (SELECT value + 2.0 AS oz FROM base WHERE bx = 12 AND "by" = 10),
t AS (
  SELECT bx, "by", value, bx - 12 AS dx, "by" - 10 AS dy,
         greatest(abs(bx - 12), abs("by" - 10)) AS n
  FROM base
  WHERE (bx-12)*(bx-12) + ("by"-10)*("by"-10) <= 64.0
),
s AS (
  SELECT bx, "by", value, n, dx, dy,
         unnest(generate_series(1, CAST(n - 1 AS BIGINT))) AS j
  FROM t WHERE n >= 2
),
sp AS (
  SELECT bx, "by", value, n, j,
         CAST(floor(12.0 + dx*j/n + 0.5) AS BIGINT) AS sx,
         CAST(floor(10.0 + dy*j/n + 0.5) AS BIGINT) AS sy
  FROM s
),
mh AS (
  SELECT sp.bx, sp."by",
         max((b.value - (SELECT oz FROM obs)) * sp.n / sp.j) AS maxq
  FROM sp JOIN base b ON b.bx = sp.sx AND b."by" = sp.sy
  GROUP BY 1, 2
)
SELECT t.bx, t."by", t.value,
       greatest(0.0, coalesce(mh.maxq
                              - (t.value - (SELECT oz FROM obs)), 0.0))
           AS min_height_from_dem
FROM t LEFT JOIN mh ON t.bx = mh.bx AND t."by" = mh."by"
"""


def _o_viewshed_cumulative() -> str:
    # cumulative.cpp term-for-term: observer grid every 6 cells, per-pair
    # sampled LOS (distance cancels — exact rational compare), uint32
    # rollup, then floor((255/max)*v) with the factor divided FIRST (one
    # IEEE divide then one multiply, the engine's own op order)
    return f"""
WITH {_dd_base8_cte()},
obs AS (
  SELECT bx AS ox, "by" AS oy, value + 2.0 AS oz
  FROM base WHERE bx % 6 = 0 AND "by" % 6 = 0
),
p AS (
  SELECT b.bx, b."by", b.value, o.ox, o.oy, o.oz,
         b.bx - o.ox AS dx, b."by" - o.oy AS dy,
         greatest(abs(b.bx - o.ox), abs(b."by" - o.oy)) AS n
  FROM base b, obs o
),
s AS (
  SELECT bx, "by", value, ox, oy, oz, n, dx, dy,
         unnest(generate_series(1, CAST(n - 1 AS BIGINT))) AS j
  FROM p WHERE n >= 2
),
sm AS (
  SELECT bx, "by", value, ox, oy, oz, n, j,
         CAST(floor(ox + dx*j/n + 0.5) AS BIGINT) AS sx,
         CAST(floor(oy + dy*j/n + 0.5) AS BIGINT) AS sy
  FROM s
),
blocked AS (
  SELECT DISTINCT sm.bx, sm."by", sm.ox, sm.oy
  FROM sm JOIN base d ON d.bx = sm.sx AND d."by" = sm.sy
  WHERE (d.value - sm.oz) * sm.n / sm.j >= sm.value + 0.0 - sm.oz
),
vis AS (
  SELECT p.bx, p."by",
         CAST(sum(CASE WHEN bl.ox IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS nvis
  FROM p LEFT JOIN blocked bl
    ON p.bx = bl.bx AND p."by" = bl."by" AND p.ox = bl.ox AND p.oy = bl.oy
  GROUP BY 1, 2
),
m AS (SELECT CAST(max(nvis) AS DOUBLE) AS mx FROM vis)
SELECT bx, "by", nvis,
       CAST(floor((255.0 / (SELECT mx FROM m)) * nvis) AS BIGINT) AS scaled
FROM vis
"""


def _o_color_relief() -> str:
    # channel stops: r 0->0->255, g 0->255->0, b 255->0->0 at lo/mu/hi;
    # interp form c0 + (v - v0) * ((c1 - c0)/(v1 - v0)) mirrors the
    # Column expression op for op (single division per slope)
    def chan(c_lo, c_mu, c_hi):
        return f"""
  CASE WHEN value < (SELECT lo FROM st) THEN {c_lo}
       WHEN value < (SELECT mu FROM st) THEN {c_lo} + (value - (SELECT lo FROM st))
            * (({c_mu} - {c_lo}) / ((SELECT mu FROM st) - (SELECT lo FROM st)))
       WHEN value < (SELECT hi FROM st) THEN {c_mu} + (value - (SELECT mu FROM st))
            * (({c_hi} - {c_mu}) / ((SELECT hi FROM st) - (SELECT mu FROM st)))
       ELSE {c_hi} END"""
    return f"""
WITH {_dd_base8_cte()},
st AS (SELECT min(value) AS lo, avg(value) AS mu, max(value) AS hi FROM base)
SELECT bx, "by", value,
  {chan('0.0', '0.0', '255.0')} AS r,
  {chan('0.0', '255.0', '0.0')} AS g,
  {chan('255.0', '0.0', '0.0')} AS b
FROM base
"""


def _o_dem_tri() -> str:
    return f"""
WITH {_dd_dense_contrib(False)},
j AS (
  SELECT c.bx, c."by", b.value AS cv, c.v
  FROM contrib c JOIN base b ON c.bx = b.bx AND c."by" = b."by"
)
SELECT bx, "by", min(cv) AS value,
       sqrt(sum((cv - v)*(cv - v))) AS tri
FROM j GROUP BY 1, 2
"""


def _o_grid_metrics() -> str:
    return f"""
WITH {_DD_GRID997}
SELECT bx, "by", min(z) AS minimum, max(z) AS maximum,
       max(z) - min(z) AS range, count(*) AS n,
       round(avg(dist), 6) AS avg_dist
FROM f GROUP BY 1, 2
"""


def _o_grid_metrics_pts() -> str:
    # row_number tie order is irrelevant: ties swap identical points, so
    # the i<j pair SET (and hence the avg) is unchanged
    return f"""
WITH {_DD_GRID997},
r AS (
  SELECT bx, "by", x, y,
         row_number() OVER (PARTITION BY bx, "by" ORDER BY x, y, z) AS i
  FROM f
),
p AS (
  SELECT a.bx, a."by",
         round(avg(sqrt((b.x - a.x)*(b.x - a.x)
                        + (b.y - a.y)*(b.y - a.y))), 6) AS avg_dist_pts
  FROM r a JOIN r b ON a.bx = b.bx AND a."by" = b."by" AND a.i < b.i
  GROUP BY 1, 2
),
c AS (SELECT bx, "by", count(*) AS n FROM f GROUP BY 1, 2)
SELECT c.bx, c."by", CAST(c.n AS BIGINT) AS n, p.avg_dist_pts
FROM c LEFT JOIN p ON c.bx = p.bx AND c."by" = p."by"
"""


def _o_grid_invdistnn() -> str:
    # mirrors grid_invdistnn term for term: rational d2 (+0 smoothing
    # omitted on both sides), epsilon clamp, (sd2, z) rank tie-break,
    # 1/sd2 weights, 6-dp rounded fold
    return f"""
WITH {_DD_GRID997},
f2 AS (
  SELECT bx, "by", z,
         greatest(((bx+0.5)*10.0 - x)*((bx+0.5)*10.0 - x)
                  + (("by"+0.5)*10.0 - y)*(("by"+0.5)*10.0 - y),
                  1e-13) AS sd2
  FROM f
),
r AS (
  SELECT bx, "by", z, sd2,
         row_number() OVER (PARTITION BY bx, "by"
                            ORDER BY sd2 ASC, z ASC) AS rk
  FROM f2
)
SELECT bx, "by", round(sum((1.0 / sd2) * z) / sum(1.0 / sd2), 6) AS value
FROM r WHERE rk <= 8 GROUP BY 1, 2 HAVING count(*) >= 3
"""


def _o_grid_movavg() -> str:
    return f"""
WITH {_DD_GRID997}
SELECT bx, "by",
       CAST(sum(CAST(z AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS value
FROM f GROUP BY 1, 2
"""


def _o_grid_quadrant() -> str:
    return f"""
WITH {_DD_GRID997},
q AS (
  SELECT bx, "by", x, y, z, dist,
         (CASE WHEN x >= (bx+0.5)*10.0 THEN 1 ELSE 0 END)
       + (CASE WHEN y >= ("by"+0.5)*10.0 THEN 2 ELSE 0 END) AS quad
  FROM f
),
perq AS (SELECT bx, "by", quad, count(*) AS nq FROM q GROUP BY 1, 2, 3),
ok AS (SELECT bx, "by" FROM perq GROUP BY 1, 2
       HAVING count(*) = 4 AND min(nq) >= 2)
SELECT f.bx, f."by", min(f.z) AS minimum, max(f.z) AS maximum,
       count(*) AS n, round(avg(f.dist), 6) AS avg_dist
FROM f JOIN ok ON f.bx = ok.bx AND f."by" = ok."by"
GROUP BY 1, 2
"""


def _o_grid_nearest() -> str:
    return """
WITH pts AS (
  SELECT (p_partkey*9973 % 2000)/10.0 AS x, (p_partkey*6151 % 2000)/10.0 AS y,
         CAST(p_retailprice AS DOUBLE) AS z
  FROM part
),
cand AS (
  SELECT CAST(floor(x/10.0) AS BIGINT) + dx.i AS bx,
         CAST(floor(y/10.0) AS BIGINT) + dy.i AS "by", x, y, z
  FROM pts,
       (SELECT unnest(generate_series(-3, 3)) AS i) dx,
       (SELECT unnest(generate_series(-3, 3)) AS i) dy
),
d AS (
  SELECT bx, "by", x, y, z,
         sqrt(((bx+0.5)*10.0 - x)*((bx+0.5)*10.0 - x)
              + (("by"+0.5)*10.0 - y)*(("by"+0.5)*10.0 - y)) AS dist
  FROM cand
),
f AS (SELECT * FROM d WHERE dist <= 15.0)
,
rk AS (
  SELECT bx, "by", z,
         row_number() OVER (PARTITION BY bx, "by"
                            ORDER BY dist ASC, z ASC, x ASC, y ASC) AS rn
  FROM f
)
SELECT bx, "by", z AS value FROM rk WHERE rn = 1
"""


def _o_grid_idw() -> str:
    return """
WITH pts AS (
  SELECT (p_partkey*9973 % 2000)/10.0 AS x, (p_partkey*6151 % 2000)/10.0 AS y,
         p_retailprice AS z
  FROM part
),
cand AS (
  SELECT CAST(floor(x/10.0) AS BIGINT) + dx.i AS bx,
         CAST(floor(y/10.0) AS BIGINT) + dy.i AS "by", x, y, z
  FROM pts,
       (SELECT unnest(generate_series(-3, 3)) AS i) dx,
       (SELECT unnest(generate_series(-3, 3)) AS i) dy
),
d AS (
  SELECT bx, "by", z,
         sqrt(((bx+0.5)*10.0 - x)*((bx+0.5)*10.0 - x)
              + (("by"+0.5)*10.0 - y)*(("by"+0.5)*10.0 - y)) AS dist
  FROM cand
),
f AS (
  SELECT bx, "by", z, 1.0/(greatest(dist,1e-12)*greatest(dist,1e-12)) AS w
  FROM d WHERE dist <= 15.0
)
SELECT bx, "by", round(sum(w*z)/sum(w), 4) AS value FROM f GROUP BY 1, 2
"""


def _o_filter_like() -> str:
    return """
SELECT p_partkey, p_name, p_brand FROM part
WHERE p_name LIKE '%widget%' AND p_brand ILIKE 'brand#1%'
"""


def _o_filter_in_between() -> str:
    return """
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A', 'R')
  AND l_shipdate >= TIMESTAMP '1996-01-01'
"""


def _o_order_limit_offset() -> str:
    return """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10 OFFSET 5
"""


def _o_distinct() -> str:
    return "SELECT DISTINCT c_mktsegment FROM customer"


def _o_summary_agg() -> str:
    return """
WITH m AS (
  SELECT min(l_quantity) AS min_v, max(l_quantity) AS max_v,
         count(l_quantity) AS count_v,
         CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS s,
         CAST(sum(CAST(l_quantity*l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s2
  FROM lineitem
)
SELECT min_v, max_v, count_v, s AS sum_v, s / count_v AS avg_v,
       sqrt((s2 - s*s/count_v) / count_v) AS stddev_pop_v,
       sqrt((s2 - s*s/count_v) / (count_v - 1)) AS stddev_samp_v
FROM m
"""


def _o_count_distinct() -> str:
    return """
SELECT count(*) AS n_all, count(DISTINCT l_returnflag) AS n_flags,
       count(DISTINCT l_partkey) AS n_parts FROM lineitem
"""


def _o_first_match_join() -> str:
    return """
WITH j AS (
  SELECT o.o_orderkey, CAST(l.l_linenumber AS BIGINT) AS l_linenumber, l.l_partkey,
         row_number() OVER (PARTITION BY o.o_orderkey
                            ORDER BY l.l_linenumber ASC NULLS LAST,
                                     l.l_partkey ASC NULLS LAST) AS rn
  FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
SELECT o_orderkey, l_linenumber, l_partkey FROM j WHERE rn = 1
"""


def _o_union_all() -> str:
    return """
SELECT c_custkey AS key, 'cust' AS src FROM customer WHERE c_custkey < 50
UNION ALL
SELECT s_suppkey AS key, 'supp' AS src FROM supplier WHERE s_suppkey < 50
"""


def _o_cast_concat_substr() -> str:
    return """
SELECT o_orderkey, concat(o_orderstatus, '-', o_orderpriority) AS tag,
       substring(o_orderpriority, 1, 1) AS pri1,
       CAST(floor(o_totalprice) AS BIGINT) AS price_int
FROM orders WHERE o_orderkey % 97 = 0
"""


def _o_hstore_get() -> str:
    return """
SELECT event_type, count(*) AS n FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
GROUP BY event_type
"""


def _o_tpch_q1() -> str:
    return """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_rev,
       count(*) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avg_qty
FROM lineitem WHERE l_shipdate < TIMESTAMP '1999-01-01'
GROUP BY l_returnflag, l_linestatus
"""


def _o_window_topk() -> str:
    return """
WITH r AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
)
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= 3
"""


def _o_window_running() -> str:
    return """
SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,6)))
            OVER (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_qty
FROM lineitem WHERE l_suppkey < 10
"""


def _o_set_intersect() -> str:
    return """
SELECT c_custkey AS key FROM customer INTERSECT SELECT o_custkey FROM orders
"""


def _o_set_except() -> str:
    return """
SELECT c_custkey % 97 AS key FROM customer
EXCEPT SELECT o_custkey % 50 FROM orders
"""


def _o_pivot() -> str:
    return """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM orders GROUP BY o_orderpriority
"""


def _o_events_tumbling() -> str:
    return """
SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS w_start, event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
FROM events GROUP BY 1, 2
"""


def _o_events_sessionize() -> str:
    return """
WITH e AS (SELECT user_id, ts, epoch_us(ts) AS es FROM events),
l AS (SELECT user_id, ts, es,
             lag(es) OVER (PARTITION BY user_id ORDER BY ts) AS pes FROM e),
b AS (SELECT user_id, ts, es,
             CASE WHEN pes IS NULL OR es - pes > 1800000000 THEN 1 ELSE 0 END AS brk FROM l),
s AS (SELECT user_id, ts, es,
             CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM b)
SELECT user_id, session_id, count(*) AS n_events,
       min(es) AS t0, max(es) AS t1
FROM s GROUP BY user_id, session_id
"""


def _o_dedup_exact() -> str:
    return """
SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
"""


def _o_minhash_sigs() -> str:
    mins = ", ".join(
        f"min(md5('{i}|' || shingle)) AS mh_{i}" for i in range(4)
    )
    return f"WITH {_SHINGLE_CTE} SELECT doc_id, {mins} FROM sh GROUP BY doc_id"


def _o_simhash() -> str:
    sums = ", ".join(
        f"sum(CASE WHEN ((hv >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(16)
    )
    bitexpr = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
    )
    return f"""
WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
              FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM toks),
bits AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({bitexpr} AS BIGINT) AS simhash FROM bits
"""


def _o_fingerprint() -> str:
    return """
SELECT doc_id,
       ('0x' || substr(md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')), 1, 15))::BIGINT AS fp
FROM documents
"""


def _o_token_quality() -> str:
    stops = ", ".join(f"'{w}'" for w in _STOPWORDS_ALL)
    return f"""
WITH q AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t,
         length(text) AS nc,
         length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS alpha
  FROM documents
),
f AS (
  SELECT doc_id, len(t) AS n_tokens, nc, alpha,
         len(list_filter(t, x -> x IN ({stops}))) AS stop_hits
  FROM q
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN nc > 0 THEN alpha / CAST(nc AS DOUBLE) ELSE 0.0 END AS alpha_ratio,
       CASE WHEN n_tokens > 0 THEN stop_hits / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
       (least(nc / 500.0, 1.0)
        + CASE WHEN nc > 0 THEN alpha / CAST(nc AS DOUBLE) ELSE 0.0 END
        + CASE WHEN n_tokens > 0 AND alpha / CAST(n_tokens AS DOUBLE) >= 3
                    AND alpha / CAST(n_tokens AS DOUBLE) <= 10 THEN 1.0 ELSE 0.5 END
        + least(CASE WHEN n_tokens > 0 THEN stop_hits / CAST(n_tokens AS DOUBLE) ELSE 0.0 END * 4, 1.0)
       ) / 4.0 AS quality
FROM f
"""


_DD_CRAWL = """
p AS (
  SELECT doc_id,
         'https://h' || CAST((doc_id % 200) % 7 AS VARCHAR) || '.example.com/p/'
           || CAST(doc_id % 200 AS VARCHAR) AS url,
         1600000000 + (doc_id * 7919) % 100000 AS ts,
         text
  FROM documents
)
"""


def _o_latest_snapshot() -> str:
    return f"""
WITH {_DD_CRAWL},
r AS (SELECT url, doc_id, ts,
             row_number() OVER (PARTITION BY url
                                ORDER BY ts DESC, doc_id DESC) AS rn
      FROM p)
SELECT url, doc_id, CAST(ts AS BIGINT) AS ts FROM r WHERE rn = 1
"""


def _o_host_stats() -> str:
    return f"""
WITH {_DD_CRAWL}
SELECT regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
       count(*) AS n_pages,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       round(CAST(sum(length(text)) AS DOUBLE) / count(*), 9) AS mean_chars
FROM p GROUP BY 1
"""


def _o_repetition_ratio() -> str:
    return """
WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
           FROM documents),
g AS (SELECT doc_id, greatest(len(tk) - 1, 0) AS ng,
             list_transform(generate_series(1, greatest(len(tk) - 1, 1)),
                            i -> concat_ws(' ', tk[i], tk[i+1])) AS gr
      FROM t)
SELECT doc_id, CAST(ng AS BIGINT) AS n_ngrams,
       CAST(CASE WHEN ng > 0 THEN len(list_distinct(gr)) ELSE 0 END AS BIGINT) AS n_distinct,
       CASE WHEN ng > 0
            THEN 1.0 - CAST(len(list_distinct(gr)) AS DOUBLE) / ng
            ELSE 0.0 END AS dup_ratio
FROM g
"""


def _o_segment_dedup() -> str:
    return """
WITH s AS (SELECT doc_id, string_split(text, '.') AS parts FROM documents),
e0 AS (SELECT doc_id, parts,
              unnest(generate_series(1, len(parts))) AS i FROM s),
seg AS (SELECT doc_id, i - 1 AS idx, trim(parts[i]) AS sg
        FROM e0 WHERE length(trim(parts[i])) > 0),
k AS (SELECT doc_id, idx, sg,
             row_number() OVER (PARTITION BY md5(sg)
                                ORDER BY doc_id, idx) AS rn
      FROM seg),
p AS (SELECT doc_id, string_agg(sg, '.' ORDER BY idx) AS text
      FROM k WHERE rn = 1 GROUP BY doc_id)
SELECT d.doc_id, COALESCE(p.text, '') AS text
FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id
"""


def _o_winnow() -> str:
    # k=3 grams, window=4 minima, ties resolved by value equality (mins
    # of equal values are equal); duckdb list slice l[a:b] is 1-based
    # inclusive, so a 4-window is h[i:i+3]
    return """
WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
g AS (
  SELECT doc_id, t,
         greatest(len(t) - 2, 0) AS ng,
         list_transform(generate_series(1, greatest(len(t) - 2, 1)),
                        i -> ('0x' || substr(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 15))::BIGINT) AS h
  FROM toks
),
w AS (
  SELECT doc_id, ng, h, greatest(ng - 3, 0) AS nw FROM g
),
fps AS (
  SELECT doc_id,
         CASE WHEN nw > 0 THEN
           list_distinct(list_transform(generate_series(1, nw),
                                        i -> list_min(h[i:i+3])))
         WHEN ng > 0 THEN [list_min(h[1:ng])]
         ELSE [] END AS fp_list
  FROM w
)
SELECT doc_id, unnest(fp_list) AS fp FROM fps
"""


def _o_lang_id() -> str:
    hits = {
        lang: "len(list_filter(t, x -> x IN ({})))".format(
            ", ".join(f"'{w}'" for w in textops.STOPWORDS[lang])
        )
        for lang in textops.STOPWORDS
    }
    return f"""
WITH q AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
h AS (SELECT doc_id, {hits['en']} AS h_en, {hits['de']} AS h_de,
             {hits['fr']} AS h_fr, {hits['es']} AS h_es FROM q)
SELECT doc_id,
  CASE WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de AND h_fr > 0 THEN 'fr'
       WHEN h_es >= h_en AND h_es >= h_de AND h_es > 0 THEN 'es'
       WHEN h_en >= h_de AND h_en > 0 THEN 'en'
       WHEN h_de > 0 THEN 'de'
       ELSE 'und' END AS lang_pred
FROM h
"""


def _o_jaccard_pairs() -> str:
    return f"""
WITH {_SHINGLE_CTE},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
pairs AS (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents WHERE doc_id % 7 = 0),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS i
  FROM pairs p
  JOIN sh a ON a.doc_id = p.id_a
  JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a, p.id_b,
       COALESCE(i.i, 0) / CAST(sa.sz + sb.sz - COALESCE(i.i, 0) AS DOUBLE) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.id_a
JOIN sizes sb ON sb.doc_id = p.id_b
LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
"""


def _o_ann_ivf() -> str:
    # ann_ivf is approximate but deterministic end to end: centroids are
    # the unit vectors of ids {0, stride, 2*stride, ...} (ordered limit,
    # dense-id path), assignment/probing take the max-(dot, cid) ranking
    # that F.reverse(array_sort) produces, re-rank is exact cosine. The
    # oracle recomputes the whole thing relationally.
    return """
WITH cn AS (
  SELECT vec_id, embedding AS e,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
u AS (SELECT vec_id,
             list_transform(e, x -> CAST(x AS DOUBLE) / nrm) AS u
      FROM cn),
st AS (SELECT greatest(1, count(*) // 8) AS stride FROM u),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, u AS cu
  FROM (SELECT vec_id, u FROM u, st
        WHERE vec_id % st.stride = 0 ORDER BY vec_id LIMIT 8)
),
asg AS (
  SELECT a.vec_id, c.cid,
         list_sum(list_transform(generate_series(1, 64),
                  j -> a.u[j] * c.cu[j])) AS dot
  FROM u a, cents c
),
arank AS (SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dot DESC, cid DESC) AS rk
          FROM asg),
clist AS (SELECT vec_id, cid AS list FROM arank WHERE rk = 1),
qprobe AS (SELECT a.vec_id AS qid, a.cid AS list
           FROM arank a WHERE a.vec_id % 97 = 0 AND a.rk <= 3),
cand AS (SELECT DISTINCT qp.qid, cl.vec_id
         FROM qprobe qp JOIN clist cl ON cl.list = qp.list),
cosj AS (
  SELECT cand.qid, cand.vec_id,
         list_sum(list_transform(generate_series(1, 64),
                  j -> cu.u[j] * qu.u[j])) AS cos
  FROM cand
  JOIN u cu ON cu.vec_id = cand.vec_id
  JOIN u qu ON qu.vec_id = cand.qid
),
r AS (SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, vec_id ASC) AS rnk
      FROM cosj)
SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 3
"""


def _o_polygonize_rings() -> str:
    # ring-tracing is not SQL — but every NUMBER the query returns is:
    # region_id/value/n_cells from the CC labeling; area == n_cells (the
    # tracer's shoelace invariant); n_rings from Gray's quad-count Euler
    # characteristic for 4-connected foreground / 8-connected background
    # (the polygonize duality: a diagonally-open cavity is NOT a hole):
    # chi4 = (n1 - n3 + 2*nd)/4 over all 2x2 windows, where n1/n3 count
    # windows with 1/3 region cells and nd the diagonal-pair windows;
    # holes = 1 - chi4 => n_rings = 2 - chi4. n_vertices =
    # boundary_edges + n_rings (each closed ring repeats its start
    # vertex; boundary edges = 4F - 2*adjacent_pairs).
    cells = ('cells AS (SELECT bx, "by", '
             "CAST(min(n_chars) % 3 AS DOUBLE) AS value FROM d GROUP BY 1, 2)")
    return f"""
WITH RECURSIVE
d AS (SELECT CAST(doc_id % 40 AS BIGINT) AS bx,
             CAST(floor(doc_id/40.0) AS BIGINT) % 40 AS "by",
             n_chars
      FROM documents),
{_dd_cc_label(cells)},
f AS (SELECT region_id, count(*) AS f FROM lc GROUP BY 1),
quadm AS (
  -- each cell hits 4 window anchors; pos encodes its corner in the
  -- window ((bx-wx) + 2*((by-wy))): diagonal pairs sum to 3
  SELECT region_id, wx, wy, count(*) AS n, sum(pos) AS sp FROM (
    SELECT region_id, bx AS wx, "by" AS wy, 0 AS pos FROM lc
    UNION ALL SELECT region_id, bx - 1, "by", 1 FROM lc
    UNION ALL SELECT region_id, bx, "by" - 1, 2 FROM lc
    UNION ALL SELECT region_id, bx - 1, "by" - 1, 3 FROM lc
  ) GROUP BY 1, 2, 3
),
chi AS (
  SELECT region_id,
         (sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)
          - sum(CASE WHEN n = 3 THEN 1 ELSE 0 END)
          + 2 * sum(CASE WHEN n = 2 AND sp = 3 THEN 1 ELSE 0 END)) // 4
             AS chi4
  FROM quadm GROUP BY 1
),
adj AS (
  SELECT a.region_id, count(*) AS a2
  FROM lc a JOIN lc b ON a.region_id = b.region_id AND
       ((b.bx = a.bx + 1 AND b."by" = a."by") OR
        (b.bx = a.bx AND b."by" = a."by" + 1))
  GROUP BY 1
),
vals AS (SELECT region_id, min(value) AS value FROM lc GROUP BY 1)
SELECT f.region_id, vals.value, f.f AS n_cells,
       CAST(2 - chi.chi4 AS INT) AS n_rings,
       -- chi4 is HUGEINT (duckdb SUM(int)); pandas would take the bare
       -- expression to float64 and break the value hash (r3 trap)
       CAST((4 * f.f - 2 * COALESCE(adj.a2, 0)) + (2 - chi.chi4)
            AS BIGINT) AS n_vertices,
       CAST(f.f AS DOUBLE) AS area
FROM f
JOIN chi ON chi.region_id = f.region_id
JOIN vals ON vals.region_id = f.region_id
LEFT JOIN adj ON adj.region_id = f.region_id
"""


def _o_ann_lsh() -> str:
    # ann_lsh is APPROXIMATE but fully DETERMINISTIC: the hyperplanes are
    # splitmix64-derived from (seed, table), so the oracle regenerates
    # the exact plane constants (similarity._hyperplanes) and replays the
    # whole pipeline — unit-norm, 4x6 sign-bit buckets, bucket equi-join,
    # exact-cosine re-rank. The only cross-engine exposure is a sign
    # test on a dot product within 1 ulp of zero (never observed on this
    # deterministic data; checked at both sf).
    from lib_gdal_spark.operators.similarity import _hyperplanes

    dim, n_tables, n_bits, k = 64, 4, 6, 3

    def bucket(tbl: int, ucol: str) -> str:
        planes = _hyperplanes(dim, n_bits, tbl, 42)
        bits = []
        for i in range(n_bits):
            consts = ", ".join(repr(float(x)) for x in planes[i])
            dot = (f"list_sum(list_transform(generate_series(1, {dim}),"
                   f" j -> {ucol}[j] * [{consts}][j]))")
            bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
        return " + ".join(bits)

    cb_arms = " UNION ALL ".join(
        f"SELECT vec_id, u, {t} AS tbl, {bucket(t, 'u')} AS bkt FROM u"
        for t in range(n_tables))
    qb_arms = " UNION ALL ".join(
        f"SELECT qid, qu, {t} AS tbl, {bucket(t, 'qu')} AS bkt FROM qs"
        for t in range(n_tables))
    return f"""
WITH cn AS (
  SELECT vec_id, embedding AS e,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
u AS (SELECT vec_id,
             list_transform(e, x -> CAST(x AS DOUBLE) / nrm) AS u
      FROM cn),
qs AS (SELECT vec_id AS qid, u AS qu FROM u WHERE vec_id < 5),
cb AS ({cb_arms}),
qb AS ({qb_arms}),
cand AS (SELECT DISTINCT q.qid, c.vec_id
         FROM cb c JOIN qb q ON c.tbl = q.tbl AND c.bkt = q.bkt),
cosj AS (
  SELECT cand.qid, cand.vec_id,
         list_sum(list_transform(generate_series(1, {dim}),
                  j -> cu.u[j] * qu2.qu[j])) AS cos
  FROM cand
  JOIN u cu ON cu.vec_id = cand.vec_id
  JOIN qs qu2 ON qu2.qid = cand.qid
),
r AS (SELECT qid, vec_id, cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, vec_id ASC) AS rnk
      FROM cosj)
SELECT qid, vec_id, round(cos, 6) AS cos, CAST(rnk AS BIGINT) AS rank
FROM r WHERE rnk <= {k}
"""


def _o_multimodal() -> str:
    # independent recomputation of the decode results from the synthesis
    # formula (multimodal.synth_media_real, seed 42): BMP/PPM pixel k of
    # id i is k*(42+i) % 251 over w*h*3 pixels (w = 4+i%5, h = 3+i%4);
    # WAV sample k is k*(42+i) % 4001 - 2000 over n = 64+i%32 samples.
    # n_bytes are the container sizes by construction (BMP 54-byte
    # header + 4-padded rows; PPM 11-byte header for 1-digit dims;
    # WAV 44 + 2n). All sums are integer-exact; the mean is one division.
    return """
WITH ids AS (SELECT unnest(generate_series(0, 199)) AS id),
b AS (SELECT id, id % 3 AS m, 4 + id % 5 AS w, 3 + id % 4 AS h,
             64 + id % 32 AS n
      FROM ids),
k AS (SELECT unnest(generate_series(0, 149)) AS k),
ip AS (SELECT b.id, (k.k * (42 + b.id)) % 251 AS v
       FROM b, k WHERE b.m < 2 AND k.k < b.w * b.h * 3),
ist AS (SELECT id, min(v) AS mn, max(v) AS mx,
               CAST(sum(v) AS DOUBLE) / count(*) AS mean
        FROM ip GROUP BY id),
ap AS (SELECT b.id, (k.k * (42 + b.id)) % 4001 - 2000 AS v
       FROM b, k WHERE b.m = 2 AND k.k < b.n),
ast AS (SELECT id, min(v) AS mn, max(v) AS mx,
               CAST(sum(v) AS DOUBLE) / count(*) AS mean
        FROM ap GROUP BY id)
SELECT b.id,
       CASE WHEN b.m = 2 THEN 'audio' ELSE 'image' END AS kind,
       CAST(CASE b.m
         WHEN 0 THEN 54 + ((b.w * 3 + 3) // 4) * 4 * b.h
         WHEN 1 THEN 11 + b.w * b.h * 3
         ELSE 44 + b.n * 2 END AS BIGINT) AS n_bytes,
       TRUE AS ok,
       CAST(CASE WHEN b.m = 2 THEN b.n ELSE b.w END AS DOUBLE) AS f0,
       CAST(CASE WHEN b.m = 2 THEN 1 ELSE b.h END AS DOUBLE) AS f1,
       CAST(CASE WHEN b.m = 2 THEN 8000 ELSE 3 END AS DOUBLE) AS f2,
       CASE WHEN b.m = 2 THEN ast.mean ELSE ist.mean END AS f3,
       CAST(CASE WHEN b.m = 2 THEN ast.mn ELSE ist.mn END AS DOUBLE) AS f4,
       CAST(CASE WHEN b.m = 2 THEN ast.mx ELSE ist.mx END AS DOUBLE) AS f5
FROM b
LEFT JOIN ist ON ist.id = b.id
LEFT JOIN ast ON ast.id = b.id
"""


def _o_minhash_dedup() -> str:
    # the full near-dup pipeline IS deterministic end to end (md5
    # min-hashes -> band keys -> exact-Jaccard verify -> greedy larger-id
    # drop), so it composes the already-green minhash_signatures and
    # jaccard_pairs oracle pieces — declared rows-only in r01/r02 out of
    # caution, now exact
    sig_cols = ", ".join(
        f"min(md5('{i}|' || shingle)) AS mh_{i}" for i in range(8))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(mh_{2*b} || '|' || mh_{2*b+1}) AS band_key FROM sig"
        for b in range(4))
    return f"""
WITH {_SHINGLE_CTE},
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
banded AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
losers AS (
  SELECT DISTINCT c.id_b
  FROM cand c
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  WHERE COALESCE(i.i, 0)
        / CAST(sa.sz + sb.sz - COALESCE(i.i, 0) AS DOUBLE) >= 0.8
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id_b FROM losers)
"""


def _o_pii_redact() -> str:
    # same PII augmentation (integer/string math) and the LITERALLY
    # identical regexes (Java/RE2 common subset); duckdb regexp_replace
    # needs the 'g' flag (first-match-only by default — Spark is global)
    em = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ip = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
    ph = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"
    return f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.org from 10.'
              || CAST(doc_id % 256 AS VARCHAR) || '.0.'
              || CAST(doc_id % 100 AS VARCHAR)
              || ' call 555-010-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '{em}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(t, '{ip}')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(t, '{ph}')) AS BIGINT) AS n_phone,
  regexp_replace(regexp_replace(regexp_replace(t,
      '{em}', '<EMAIL>', 'g'),
      '{ip}', '<IPV4>', 'g'),
      '{ph}', '<PHONE>', 'g') AS text_redacted
FROM aug
"""


def _o_contamination() -> str:
    # 3-gram shingles exactly as dedup.shingles(): starts 1..len-2 for
    # len>=3, one partial shingle for shorter docs, empty docs dropped
    return """
WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
            FROM documents),
sh0 AS (SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> array_to_string(t[i:i+2], ' '))) AS s
        FROM tk),
sh AS (SELECT DISTINCT doc_id, s FROM sh0 WHERE length(s) > 0),
b AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
tot AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id),
hit AS (SELECT doc_id, count(*) AS n_hits FROM sh
        WHERE s IN (SELECT s FROM b) GROUP BY doc_id)
SELECT tot.doc_id,
       CAST(tot.n_grams AS BIGINT) AS n_grams,
       CAST(COALESCE(hit.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(hit.n_hits, 0) AS DOUBLE) / tot.n_grams AS contam_frac
FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
"""


def _o_gopher_rules() -> str:
    # signals are counts + single divisions — exact in both engines
    return """
WITH tk AS (SELECT doc_id, text,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS t
            FROM documents),
g AS (SELECT doc_id,
             len(t) AS wc,
             length(array_to_string(t, '')) AS tc,
             length(text) AS nc,
             length(text)
               - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))
               AS sym,
             len(list_distinct(list_filter(t,
                 x -> x IN ('the','a','and','of','to','in','is','that'))))
               AS sd
      FROM tk),
m AS (SELECT doc_id, wc, sd,
             CASE WHEN wc > 0 THEN CAST(tc AS DOUBLE) / wc ELSE 0.0 END AS mwl,
             CASE WHEN nc > 0 THEN CAST(sym AS DOUBLE) / nc ELSE 0.0 END AS sf
      FROM g)
SELECT doc_id,
       CAST(wc AS BIGINT) AS word_count,
       mwl AS mean_word_len,
       sf AS symbol_frac,
       CAST(sd AS BIGINT) AS stop_distinct,
       CAST(wc >= 30 AND wc <= 100000 AS BIGINT) AS ok_words,
       CAST(mwl >= 3.0 AND mwl <= 10.0 AS BIGINT) AS ok_word_len,
       CAST(sf <= 0.1 AS BIGINT) AS ok_symbols,
       CAST(sd >= 2 AS BIGINT) AS ok_stop,
       CAST((wc >= 30 AND wc <= 100000) AND (mwl >= 3.0 AND mwl <= 10.0)
            AND sf <= 0.1 AND sd >= 2 AS BIGINT) AS passes_gopher
FROM m
"""


def _o_url_canonical() -> str:
    # identical messy-URL synthesis and the identical extraction regexes;
    # no group references in any replacement (Java $1 vs RE2 \\1 trap)
    return r"""
WITH u AS (
  SELECT doc_id,
         'HTTP' || CASE WHEN doc_id % 3 = 0 THEN 'S' ELSE '' END
         || '://WWW.Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
         || CASE WHEN doc_id % 3 = 0 THEN ':443'
                 WHEN doc_id % 5 = 0 THEN ':8080'
                 WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END
         || CASE WHEN doc_id % 4 = 0 THEN ''
                 ELSE '/Path/' || CAST(doc_id % 13 AS VARCHAR) END
         || CASE WHEN doc_id % 2 = 0
                 THEN '?b=2&a=' || CAST(doc_id % 5 AS VARCHAR) || '&'
                 ELSE '' END
         || CASE WHEN doc_id % 6 = 0 THEN '#Frag' ELSE '' END AS url
  FROM documents),
p AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hostport,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
         regexp_extract(url, '^[^#]*\?([^#]*)', 1) AS query
  FROM u),
q AS (
  SELECT doc_id, url, scheme, path, query,
         lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
         regexp_extract(hostport, ':([0-9]+)$', 1) AS port
  FROM p),
c AS (
  SELECT doc_id, url, scheme, host,
         CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                   OR (scheme = 'https' AND port = '443')
              THEN '' ELSE ':' || port END AS port_part,
         CASE WHEN path = '' THEN '/' ELSE path END AS path_part,
         list_sort(list_filter(string_split(query, '&'),
                               x -> length(x) > 0)) AS params
  FROM q)
SELECT doc_id, url,
       scheme || '://' || host || port_part || path_part
       || CASE WHEN len(params) > 0
               THEN '?' || array_to_string(params, '&') ELSE '' END
       AS canonical_url
FROM c
"""


def _o_crawl_incremental() -> str:
    # the bloom is a pure admit-only prefilter, so the exact semantics
    # are a plain anti-join on url
    return f"""
WITH {_DD_CRAWL}
SELECT doc_id, url FROM p
WHERE doc_id >= 100
  AND url NOT IN (SELECT url FROM p WHERE doc_id < 100)
"""


def _o_corpus_clean() -> str:
    # stage-for-stage composition of the individually-green oracle
    # fragments: quality formula (=_o_token_quality), lang CASE chain
    # (=_o_lang_id), 2-gram repetition (=_o_repetition_ratio), md5 exact
    # dedup, then the minhash->band->Jaccard chain restricted to the
    # surviving ids
    stops = ", ".join(f"'{w}'" for w in _STOPWORDS_ALL)
    hits = {
        lang: "len(list_filter(t, x -> x IN ({})))".format(
            ", ".join(f"'{w}'" for w in textops.STOPWORDS[lang]))
        for lang in textops.STOPWORDS
    }
    sig_cols = ", ".join(
        f"min(md5('{i}|' || shingle)) AS mh_{i}" for i in range(8))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(mh_{2*b} || '|' || mh_{2*b+1}) AS band_key FROM sig"
        for b in range(4))
    return f"""
WITH q AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t,
         length(text) AS nc,
         length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS alpha
  FROM documents
),
f AS (
  SELECT doc_id, t, len(t) AS n_tokens, nc, alpha,
         len(list_filter(t, x -> x IN ({stops}))) AS stop_hits
  FROM q
),
p1 AS (
  SELECT doc_id, t FROM f
  WHERE (least(nc / 500.0, 1.0)
         + CASE WHEN nc > 0 THEN alpha / CAST(nc AS DOUBLE) ELSE 0.0 END
         + CASE WHEN n_tokens > 0 AND alpha / CAST(n_tokens AS DOUBLE) >= 3
                     AND alpha / CAST(n_tokens AS DOUBLE) <= 10
                THEN 1.0 ELSE 0.5 END
         + least(CASE WHEN n_tokens > 0
                      THEN stop_hits / CAST(n_tokens AS DOUBLE)
                      ELSE 0.0 END * 4, 1.0)
        ) / 4.0 >= 0.5
),
h AS (SELECT doc_id, t, {hits['en']} AS h_en, {hits['de']} AS h_de,
             {hits['fr']} AS h_fr, {hits['es']} AS h_es FROM p1),
p2 AS (
  SELECT doc_id, t FROM h
  WHERE (CASE WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de
                   AND h_fr > 0 THEN 'fr'
              WHEN h_es >= h_en AND h_es >= h_de AND h_es > 0 THEN 'es'
              WHEN h_en >= h_de AND h_en > 0 THEN 'en'
              WHEN h_de > 0 THEN 'de'
              ELSE 'und' END) = 'en'
),
g AS (SELECT doc_id, greatest(len(t) - 1, 0) AS ng,
             list_transform(generate_series(1, greatest(len(t) - 1, 1)),
                            i -> concat_ws(' ', t[i], t[i+1])) AS gr
      FROM p2),
p3 AS (
  SELECT doc_id FROM g
  WHERE (CASE WHEN ng > 0
              THEN 1.0 - CAST(len(list_distinct(gr)) AS DOUBLE) / ng
              ELSE 0.0 END) <= 0.5
),
p4 AS (
  SELECT min(d.doc_id) AS doc_id
  FROM documents d JOIN p3 ON p3.doc_id = d.doc_id
  GROUP BY md5(d.text)
),
toks4 AS (SELECT d.doc_id,
                 regexp_extract_all(lower(d.text), '[a-z0-9]+') AS t
          FROM documents d JOIN p4 ON p4.doc_id = d.doc_id),
sh0 AS (SELECT doc_id,
        unnest(list_transform(generate_series(1, greatest(len(t) - 2, 1)),
                              i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
        FROM toks4),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE length(shingle) > 0),
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
banded AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
losers AS (
  SELECT DISTINCT c.id_b
  FROM cand c
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  WHERE COALESCE(i.i, 0)
        / CAST(sa.sz + sb.sz - COALESCE(i.i, 0) AS DOUBLE) >= 0.8
)
SELECT doc_id FROM p4
WHERE doc_id NOT IN (SELECT id_b FROM losers)
"""


def _o_cosine_topk() -> str:
    return """
WITH cn AS (
  SELECT vec_id, embedding AS e,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
qn AS (SELECT vec_id AS qid, e AS qe, nrm AS qnrm FROM cn WHERE vec_id < 5),
j AS (
  SELECT qn.qid, cn.vec_id,
         list_sum(list_transform(generate_series(1, len(cn.e)),
                  i -> (CAST(cn.e[i] AS DOUBLE)/cn.nrm) * (CAST(qn.qe[i] AS DOUBLE)/qn.qnrm))) AS cos
  FROM cn, qn
),
r AS (SELECT qid, vec_id, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rnk FROM j)
SELECT qid, vec_id, round(cos, 6) AS cos, CAST(rnk AS BIGINT) AS rank
FROM r WHERE rnk <= 3
"""


def oracle_sql() -> dict[str, str]:
    return {
        "kmeans_docs": _o_kmeans_docs(),
        "semdedup_docs": _o_semdedup_docs(),
        "cluster_prune": _o_cluster_prune(),
        "pagerank_docs": _o_pagerank_docs(),
        "inverted_index": _o_inverted_index(),
        "raster_resize": _o_raster_resize(),
        "pmi_topk": _o_pmi_topk(),
        "doc_cosine_pairs": _o_doc_cosine_pairs(),
        "neardup_clusters": _o_neardup_clusters(),
        "bm25_topk": _o_bm25_topk(),
        "blend_srcover": _o_blend_srcover(),
        "neighbors_median": _o_neighbors_median(),
        "lm_xent": _o_lm_xent(),
        "bpe_pairs": _o_bpe_pairs(),
        "bpe_encode_docs": _o_bpe_encode_docs(),
        "exact_substr": _o_exact_substr(),
        "ngram_topk": _o_ngram_topk(),
        "doc_chunks": _o_doc_chunks(),
        "tile_assign": _o_tile_assign(),
        "tile_pyramid": _o_tile_pyramid(),
        "pip_rect_join": _o_pip_rect_join(),
        "pip_triangle_join": _o_pip_triangle(),
        "knn_ring": _o_knn_ring(),
        "hll_docs": _o_hll_docs(),
        "kmv_docs": _o_kmv_docs(),
        "rraster_roundtrip": _o_rraster_roundtrip(),
        "zarr_roundtrip": _o_zarr_roundtrip(),
        "zmap_roundtrip": _o_zmap_roundtrip(),
        "hf2_roundtrip": _o_hf2_roundtrip(),
        "saga_roundtrip": _o_saga_roundtrip(),
        "rst_roundtrip": _o_rst_roundtrip(),
        "sigdem_roundtrip": _o_sigdem_roundtrip(),
        "s2_cell_assign": _o_s2_cell_assign(),
        "s2_knn_sphere": _o_s2_knn_sphere(),
        "s2_cap_join": _o_s2_cap_join(),
        "ntv2_shift": _o_ntv2_shift(),
        "gtx_roundtrip": _o_gtx_roundtrip(),
        "byn_roundtrip": _o_byn_roundtrip(),
        "leveller_roundtrip": _o_leveller_roundtrip(),
        "vicar_roundtrip": _o_vicar_roundtrip(),
        "georss_roundtrip": _o_georss_roundtrip(),
        "rmf_roundtrip": _o_rmf_roundtrip(),
        "ilwis_roundtrip": _o_ilwis_roundtrip(),
        "zonal_stats": _o_zonal_stats(),
        "zonal_mode": _o_zonal_mode(),
        "zonal_weighted": _o_zonal_weighted(),
        "events_sliding": _o_events_sliding(),
        "gdaldem_hillshade": _o_gdaldem_hillshade(),
        "gdaldem_derivatives": _o_gdaldem_derivatives(),
        "geom_overlay": _o_geom_overlay(),
        "raster_mosaic": _o_raster_mosaic(),
        "geom_predicates": _o_geom_predicates(),
        "dem_slope": _o_dem_slope(),
        "dem_tpi": _o_dem_tpi(),
        "graph_sssp": _o_graph_sssp(),
        "graph_sssp_blocked": _o_graph_sssp_blocked(),
        "rpc_project": _o_rpc_project(),
        "tile_render": _o_tile_render(),
        "graph_components": _o_graph_components(),
        "graph_kpaths": _o_graph_kpaths(),
        "dem_roughness": _o_dem_roughness(),
        "dem_aspect": _o_dem_aspect(),
        "dem_tri": _o_dem_tri(),
        "color_relief": _o_color_relief(),
        "viewshed_los": _o_viewshed(),
        "viewshed_cumulative": _o_viewshed_cumulative(),
        "viewshed_curv": _o_viewshed_curv(),
        "viewshed_minheight": _o_viewshed_minheight(),
        "raster_checksum": _o_raster_checksum(),
        "pansharpen_brovey": _o_pansharpen(),
        "mdim_subset_reduce": _o_mdim_subset_reduce(),
        "interp_bilinear": _o_interp_bilinear(),
        "contour_segments": _o_contour(),
        "contour_multi": _o_contour_multi(),
        "contour_polygon_bands": _o_contour_polygon_bands(),
        "translate_scale": _o_translate_scale(),
        "rasterize_line_burn": _o_rasterize_lines(),
        "rgb2pct": _o_rgb2pct(),
        "hist_equalize": _o_hist_equalize(),
        "gcp_polywarp": _o_gcp_polywarp(),
        "lineref_locate": _o_lineref_locate(),
        "dataset_split": _o_dataset_split(),
        "source_quota": _o_source_quota(),
        "sequence_pack": _o_sequence_pack(),
        "temperature_resample": _o_temperature_resample(),
        "dsir_topk": _o_dsir_topk(),
        "retile_assign": _o_retile_assign(),
        "raster_compare": _o_raster_compare(),
        "raster_calc": _o_raster_calc(),
        "sjoin_left": _o_sjoin_left(),
        "sjoin_update": _o_sjoin_update(),
        "interp_nearest": _o_interp_nearest(),
        "interp_cubic": _o_interp_cubic(),
        "sjoin_clip": _o_sjoin_clip(),
        "sjoin_erase": _o_sjoin_erase(),
        "sjoin_identity": _o_sjoin_identity(),
        "sjoin_union": _o_sjoin_union(),
        "sjoin_symdiff": _o_sjoin_symdiff(),
        "warp_avg": _o_warp_avg(),
        "warp_rms": _o_warp_rms(),
        "warp_mode": _o_warp_mode(),
        "warp_q1q3": _o_warp_q1q3(),
        "warp_near": _o_warp_near(),
        "warp_rotate": _o_warp_rotate(),
        "warp_gcp": _o_warp_gcp(),
        "mdim_resample_mask": _o_mdim_resample_mask(),
        "curve_stroke": _o_curve_stroke(),
        "proj_conic": _o_proj_conic(),
        "proj_datum": _o_proj_datum(),
        "nearblack_collar": _o_nearblack_collar(),
        "coverage_gaps": _o_coverage_gaps(),
        "coverage_check_gaps": _o_coverage_check_gaps(),
        "rat_classify": _o_rat_classify(),
        "homography_project": _o_homography_project(),
        "dted_roundtrip": _o_dted_roundtrip(),
        "gif_roundtrip": _o_gif_roundtrip(),
        "surfer_roundtrip": _o_surfer_roundtrip(),
        "mdim_arith": _o_mdim_arith(),
        "gpkg_roundtrip": _o_gpkg_roundtrip(),
        "mbtiles_roundtrip": _o_mbtiles_roundtrip(),
        "vrt_mosaic": _o_vrt_mosaic(),
        "tile_geodetic": _o_tile_geodetic(),
        "unimax_alloc": _o_unimax_alloc(),
        "pmtiles_roundtrip": _o_pmtiles_roundtrip(),
        "ogr_special_fields": _o_ogr_special_fields(),
        "hybrid_rrf": _o_hybrid_rrf(),
        "quality_classifier": _o_quality_classifier(),
        "geoloc_forward": _o_geoloc_forward(),
        "geoloc_roundtrip": _o_geoloc_roundtrip(),
        "coverage_check": _o_coverage_check(),
        "coverage_simplify": _o_coverage_simplify(),
        "coverage_clean": _o_coverage_clean(),
        "shp_roundtrip": _RT_ORACLE,
        "fgb_roundtrip": _RT_ORACLE,
        "geojson_roundtrip": _RT_ORACLE,
        "geocsv_roundtrip": _RT_ORACLE,
        "kml_roundtrip": _RT_ORACLE,
        "gml_roundtrip": _RT_ORACLE,
        "mif_roundtrip": _RT_ORACLE,
        "gmt_roundtrip": _RT_ORACLE,
        "dxf_roundtrip": _RT_ORACLE,
        "netcdf_roundtrip": _o_netcdf_roundtrip(),
        "topojson_read": _o_topojson_read(),
        "gpx_roundtrip": """
WITH pts AS (
  SELECT c_custkey AS fid,
         CAST((c_custkey*13+1) % 997 % 360 - 180 AS BIGINT) AS x,
         CAST((c_custkey*29+2) % 991 % 180 - 90 AS BIGINT) AS y
  FROM customer)
SELECT fid % 10 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(fid) AS BIGINT) AS fid_sum,
       CAST(SUM(x) AS BIGINT) AS x_sum,
       CAST(SUM(y) AS BIGINT) AS y_sum
FROM pts GROUP BY fid % 10
""",
        "warp_bilinear": _o_warp_bilinear(),
        "warp_cubic": _o_warp_conv("cubic"),
        "warp_cubicspline": _o_warp_conv("cubicspline"),
        "warp_lanczos": _o_warp_conv("lanczos"),
        "proximity_dist": _o_proximity(),
        "fillnodata_idw": _o_fillnodata(),
        "overview_avg": _o_overview_avg(),
        "overview_gauss": _o_overview_gauss(),
        "overview_cubic": _o_overview_cubic(),
        "rasterize_rects": _o_rasterize(),
        "footprint_boundary": _o_footprint(),
        "histogram": _o_histogram(),
        "focal_mean": _o_focal_mean(),
        "grid_idw": _o_grid_idw(),
        "grid_metrics": _o_grid_metrics(),
        "grid_metrics_pts": _o_grid_metrics_pts(),
        "grid_nearest": _o_grid_nearest(),
        "grid_movavg": _o_grid_movavg(),
        "grid_quadrant": _o_grid_quadrant(),
        "grid_invdistnn": _o_grid_invdistnn(),
        "ogr_filter_like": _o_filter_like(),
        "ogr_filter_in_between": _o_filter_in_between(),
        "ogr_order_limit_offset": _o_order_limit_offset(),
        "ogr_distinct": _o_distinct(),
        "ogr_summary_agg": _o_summary_agg(),
        "ogr_count_distinct": _o_count_distinct(),
        "ogr_first_match_join": _o_first_match_join(),
        "ogr_union_all": _o_union_all(),
        "ogr_cast_concat_substr": _o_cast_concat_substr(),
        "ogr_hstore_get": _o_hstore_get(),
        "tpch_q1_groupby": _o_tpch_q1(),
        "window_topk": _o_window_topk(),
        "window_running_sum": _o_window_running(),
        "set_intersect": _o_set_intersect(),
        "set_except": _o_set_except(),
        "pivot_status": _o_pivot(),
        "events_tumbling": _o_events_tumbling(),
        "events_sessionize": _o_events_sessionize(),
        "pii_redact": _o_pii_redact(),
        "contamination_check": _o_contamination(),
        "gopher_rules": _o_gopher_rules(),
        "url_canonical": _o_url_canonical(),
        "dedup_exact": _o_dedup_exact(),
        "minhash_signatures": _o_minhash_sigs(),
        "simhash": _o_simhash(),
        "text_fingerprint": _o_fingerprint(),
        "token_quality": _o_token_quality(),
        "lang_id": _o_lang_id(),
        "repetition_ratio": _o_repetition_ratio(),
        "segment_dedup": _o_segment_dedup(),
        "latest_snapshot": _o_latest_snapshot(),
        "host_stats": _o_host_stats(),
        "winnow_fp": _o_winnow(),
        "jaccard_pairs": _o_jaccard_pairs(),
        "cosine_topk": _o_cosine_topk(),
        "embed_neardup": _o_embed_neardup(),
        "minhash_dedup": _o_minhash_dedup(),
        "corpus_clean": _o_corpus_clean(),
        "crawl_incremental": _o_crawl_incremental(),
        "multimodal_features": _o_multimodal(),
        "dem_hillshade": _o_dem_hillshade(),
        "ann_lsh": _o_ann_lsh(),
        "polygonize_rings": _o_polygonize_rings(),
        "ann_ivf": _o_ann_ivf(),
        "polygonize_regions": _o_polygonize_regions(),
        "sieve_filter": _o_sieve(),
        # grid_linear (the last formerly-rows-only query): Delaunay IS
        # relationally characterizable once the points are in general
        # position — triangle in Delaunay(P u super) iff its circumcircle
        # contains no other block point and no super vertex. O(n_block^4)
        # in SQL, bounded by the block size, not the data.
        "grid_linear": _o_grid_linear(),
    }


def _tin_incircle(px: str, py: str) -> str:
    """Incircle predicate text: blocker (px, py) strictly inside the
    circumcircle of oriented triple (ax,ay)-(bx2,by2)-(cx2,cy2) — the
    brute-force characterization validated against the engine's
    Bowyer-Watson block by block (margins >= 8.36 at sf0.01; doubles
    are sign-safe by 7 orders of magnitude)."""
    ax, ay = f"(t.ax - {px})", f"(t.ay - {py})"
    bx, by = f"(t.bx2 - {px})", f"(t.by2 - {py})"
    cx, cy = f"(t.cx2 - {px})", f"(t.cy2 - {py})"
    det = (f"(({ax}*{ax} + {ay}*{ay}) * ({bx}*{cy} - {cx}*{by})"
           f" - ({bx}*{bx} + {by}*{by}) * ({ax}*{cy} - {cx}*{ay})"
           f" + ({cx}*{cx} + {cy}*{cy}) * ({ax}*{by} - {bx}*{ay}))")
    return f"((t.o > 0 AND {det} > 0) OR (t.o < 0 AND {det} < 0))"


def _o_geom_body() -> str:
    # Relational replay of geo/clip.overlay on the md5 quad pairs:
    # every float expression mirrors the engine term for term —
    # t/u = cross ratios exactly as clip._split_against, fragment
    # endpoints p0 + t*r, midpoint (a + b) * 0.5, PIP xint exactly as
    # pip.point_in_ring_np. Generic-position md5 coords guarantee no
    # collinear overlaps / duplicate t / near-parallel edges, so the
    # kernel's eps tolerances never fire and midpoint parity == the
    # engine's side-sampling classification. Green's theorem makes
    # stitching unnecessary: sum (fx0*fy1 - fx1*fy0)/2 over kept
    # directed fragments (B-side reversed for difference).
    hd = (lambda tag: "CAST(('0x' || substr(md5('" + tag
          + "|' || CAST(p_partkey AS VARCHAR)), 1, 13))::BIGINT"
          " AS DOUBLE)")
    jj = lambda tag: f"{hd(tag)} * {_OVL_J!r}"

    def side(own, other):
        den = ("(((a.x1 - a.x0) * (b.y1 - b.y0)) - "
               "((a.y1 - a.y0) * (b.x1 - b.x0)))")
        tnum = ("(((b.x0 - a.x0) * (b.y1 - b.y0)) - "
                "((b.y0 - a.y0) * (b.x1 - b.x0)))")
        unum = ("(((b.x0 - a.x0) * (a.y1 - a.y0)) - "
                "((b.y0 - a.y0) * (a.x1 - a.x0)))")
        return f"""
cr_{own} AS (
  SELECT a.pair_id, a.eid, {tnum} / {den} AS t
  FROM e{own} a JOIN e{other} b USING (pair_id)
  WHERE {den} <> 0
    AND {tnum} / {den} > 0 AND {tnum} / {den} < 1
    AND {unum} / {den} >= 0 AND {unum} / {den} <= 1
),
ts_{own} AS (
  SELECT pair_id, eid, t FROM cr_{own}
  UNION ALL SELECT pair_id, eid, CAST(0.0 AS DOUBLE) FROM e{own}
  UNION ALL SELECT pair_id, eid, CAST(1.0 AS DOUBLE) FROM e{own}
),
sg_{own} AS (
  SELECT pair_id, eid, t AS t0,
         lead(t) OVER (PARTITION BY pair_id, eid ORDER BY t) AS t1
  FROM ts_{own}
),
fr_{own} AS (
  SELECT s.pair_id,
    e.x0 + s.t0 * (e.x1 - e.x0) AS fx0, e.y0 + s.t0 * (e.y1 - e.y0) AS fy0,
    e.x0 + s.t1 * (e.x1 - e.x0) AS fx1, e.y0 + s.t1 * (e.y1 - e.y0) AS fy1,
    ((e.x0 + s.t0 * (e.x1 - e.x0)) + (e.x0 + s.t1 * (e.x1 - e.x0))) * 0.5
      AS mx,
    ((e.y0 + s.t0 * (e.y1 - e.y0)) + (e.y0 + s.t1 * (e.y1 - e.y0))) * 0.5
      AS my
  FROM sg_{own} s
  JOIN e{own} e ON e.pair_id = s.pair_id AND e.eid = s.eid
  WHERE s.t1 IS NOT NULL
),
cl_{own} AS (
  SELECT f.pair_id, f.fx0, f.fy0, f.fx1, f.fy1,
    ((SELECT count(*) FROM e{other} b
      WHERE b.pair_id = f.pair_id
        AND ((b.y1 > f.my) <> (b.y0 > f.my))
        AND f.mx < (b.x0 - b.x1) * (f.my - b.y1) / (b.y0 - b.y1) + b.x1)
     % 2) = 1 AS in_other
  FROM fr_{own} f
)"""

    return f"""
WITH q AS (
  SELECT p_partkey AS pair_id,
    {jj('ax0')} AS jax0, {jj('ax1')} AS jax1,
    {jj('ax2')} AS jax2, {jj('ax3')} AS jax3,
    {jj('ay0')} AS jay0, {jj('ay1')} AS jay1,
    {jj('ay2')} AS jay2, {jj('ay3')} AS jay3,
    {jj('bx0')} AS jbx0, {jj('bx1')} AS jbx1,
    {jj('bx2')} AS jbx2, {jj('bx3')} AS jbx3,
    {jj('by0')} AS jby0, {jj('by1')} AS jby1,
    {jj('by2')} AS jby2, {jj('by3')} AS jby3,
    {hd('tx')} * {_OVL_T!r} - 1.0 AS dx,
    {hd('ty')} * {_OVL_T!r} - 1.0 AS dy
  FROM part WHERE p_partkey % 7 = 0
),
quads AS (
  SELECT pair_id,
    jax0 AS ax0v, jay0 AS ay0v,
    10.0 - jax1 AS ax1v, jay1 AS ay1v,
    10.0 - jax2 AS ax2v, 10.0 - jay2 AS ay2v,
    jax3 AS ax3v, 10.0 - jay3 AS ay3v,
    jbx0 + dx AS bx0v, jby0 + dy AS by0v,
    (10.0 - jbx1) + dx AS bx1v, jby1 + dy AS by1v,
    (10.0 - jbx2) + dx AS bx2v, (10.0 - jby2) + dy AS by2v,
    jbx3 + dx AS bx3v, (10.0 - jby3) + dy AS by3v
  FROM q
),
va AS (
  SELECT pair_id, 0 AS vid, ax0v AS x, ay0v AS y FROM quads UNION ALL
  SELECT pair_id, 1, ax1v, ay1v FROM quads UNION ALL
  SELECT pair_id, 2, ax2v, ay2v FROM quads UNION ALL
  SELECT pair_id, 3, ax3v, ay3v FROM quads
),
vb AS (
  SELECT pair_id, 0 AS vid, bx0v AS x, by0v AS y FROM quads UNION ALL
  SELECT pair_id, 1, bx1v, by1v FROM quads UNION ALL
  SELECT pair_id, 2, bx2v, by2v FROM quads UNION ALL
  SELECT pair_id, 3, bx3v, by3v FROM quads
),
ea AS (
  SELECT v.pair_id, v.vid AS eid, v.x AS x0, v.y AS y0, w.x AS x1, w.y AS y1
  FROM va v JOIN va w ON w.pair_id = v.pair_id AND w.vid = (v.vid + 1) % 4
),
eb AS (
  SELECT v.pair_id, v.vid AS eid, v.x AS x0, v.y AS y0, w.x AS x1, w.y AS y1
  FROM vb v JOIN vb w ON w.pair_id = v.pair_id AND w.vid = (v.vid + 1) % 4
),{side('a', 'b')},{side('b', 'a')}
"""


def _o_geom_overlay() -> str:
    return _o_geom_body() + """,
contrib AS (
  SELECT pair_id,
    CASE WHEN in_other THEN fx0 * fy1 - fx1 * fy0 END AS ci,
    CASE WHEN NOT in_other THEN fx0 * fy1 - fx1 * fy0 END AS cu,
    CASE WHEN NOT in_other THEN fx0 * fy1 - fx1 * fy0 END AS cd
  FROM cl_a
  UNION ALL
  SELECT pair_id,
    CASE WHEN in_other THEN fx0 * fy1 - fx1 * fy0 END AS ci,
    CASE WHEN NOT in_other THEN fx0 * fy1 - fx1 * fy0 END AS cu,
    CASE WHEN in_other THEN fx1 * fy0 - fx0 * fy1 END AS cd
  FROM cl_b
)
SELECT q2.pair_id,
  round(coalesce(c.si, 0) / 2, 6) AS inter_area,
  round(coalesce(c.su, 0) / 2, 6) AS union_area,
  round(coalesce(c.sd, 0) / 2, 6) AS diff_area
FROM quads q2 LEFT JOIN (
  SELECT pair_id, sum(ci) AS si, sum(cu) AS su, sum(cd) AS sd
  FROM contrib GROUP BY pair_id
) c ON c.pair_id = q2.pair_id
"""


def _o_geom_predicates() -> str:
    # Predicate truth from the same fragment classification: in generic
    # position (md5 quads: no boundary touching, no identical
    # geometries) interiors intersect iff ANY kept intersection
    # fragment exists, A within B iff additionally the A-minus-B
    # boundary is empty (a_out = 0 AND b_in = 0), and symmetrically.
    # This mirrors clip.relate's emptiness-of-overlay criterion.
    return _o_geom_body() + """,
stats_a AS (
  SELECT pair_id,
    sum(CASE WHEN in_other THEN 1 ELSE 0 END) AS a_in,
    sum(CASE WHEN NOT in_other THEN 1 ELSE 0 END) AS a_out
  FROM cl_a GROUP BY pair_id
),
stats_b AS (
  SELECT pair_id,
    sum(CASE WHEN in_other THEN 1 ELSE 0 END) AS b_in,
    sum(CASE WHEN NOT in_other THEN 1 ELSE 0 END) AS b_out
  FROM cl_b GROUP BY pair_id
)
SELECT q2.pair_id,
  (coalesce(a_in, 0) + coalesce(b_in, 0)) > 0 AS intersects,
  ((coalesce(a_in, 0) + coalesce(b_in, 0)) > 0)
    AND coalesce(a_out, 0) = 0 AND coalesce(b_in, 0) = 0 AS within_ab,
  ((coalesce(a_in, 0) + coalesce(b_in, 0)) > 0)
    AND coalesce(b_out, 0) = 0 AND coalesce(a_in, 0) = 0 AS contains_ab,
  ((coalesce(a_in, 0) + coalesce(b_in, 0)) > 0)
    AND (coalesce(a_out, 0) > 0 OR coalesce(b_in, 0) > 0)
    AND (coalesce(b_out, 0) > 0 OR coalesce(a_in, 0) > 0) AS overlaps
FROM quads q2
LEFT JOIN stats_a sa ON sa.pair_id = q2.pair_id
LEFT JOIN stats_b sb ON sb.pair_id = q2.pair_id
"""


def _o_grid_linear() -> str:
    # the md5 coordinate synthesis is bit-identical to _tin_points
    # (13 hex digits -> exact 52-bit integer, exact power-of-two scale);
    # the block/halo float expressions mirror operators/grid.py term by
    # term; the barycentric formulas mirror geo/delaunay.py
    # tin_interpolate including its -1e-9 containment eps. Vertex order
    # in the weighted sum differs (sorted vs CCW) -> 6 dp round, same
    # as the engine side.
    coord = (lambda tag: "CAST(('0x' || substr(md5('" + tag
             + "' || CAST(p_partkey AS VARCHAR)), 1, 13))::BIGINT"
             " AS DOUBLE) * " + repr(_TIN_SCALE))
    inc_real = _tin_incircle("d.x", "d.y")
    inc_sup = _tin_incircle("s.sx", "s.sy")
    return f"""
WITH pts AS (
  SELECT {coord('gx|')} AS x, {coord('gy|')} AS y,
         CAST(p_retailprice AS DOUBLE) AS z
  FROM part WHERE p_partkey % 13 = 0),
off AS (SELECT * FROM (VALUES (-1),(0),(1)) o1(dx), (VALUES (-1),(0),(1)) o2(dy)),
halo AS (
  SELECT CAST(floor(x/40.0) AS BIGINT) + dx AS gbx,
         CAST(floor(y/40.0) AS BIGINT) + dy AS gby, x, y, z
  FROM pts, off
  WHERE greatest((CAST(floor(x/40.0) AS BIGINT) + dx)*40.0 - x,
                 x - ((CAST(floor(x/40.0) AS BIGINT) + dx) + 1)*40.0,
                 0.0) <= 20.0
    AND greatest((CAST(floor(y/40.0) AS BIGINT) + dy)*40.0 - y,
                 y - ((CAST(floor(y/40.0) AS BIGINT) + dy) + 1)*40.0,
                 0.0) <= 20.0),
lp AS (SELECT gbx, gby, x, y, z,
              row_number() OVER (PARTITION BY gbx, gby ORDER BY x, y) AS pid
       FROM halo),
sup AS (SELECT gbx, gby,
               (min(x) + max(x))/2.0 AS c0, (min(y) + max(y))/2.0 AS c1,
               greatest(max(x) - min(x), max(y) - min(y))*16.0 + 1.0 AS d
        FROM lp GROUP BY gbx, gby),
supv AS (
  SELECT gbx, gby, c0 - 2*d AS sx, c1 - d AS sy FROM sup
  UNION ALL SELECT gbx, gby, c0 + 2*d, c1 - d FROM sup
  UNION ALL SELECT gbx, gby, c0, c1 + 2*d FROM sup),
tri AS (
  SELECT a.gbx, a.gby, a.pid AS pa, b.pid AS pb, c.pid AS pc,
         a.x AS ax, a.y AS ay, a.z AS az,
         b.x AS bx2, b.y AS by2, b.z AS bz,
         c.x AS cx2, c.y AS cy2, c.z AS cz,
         (b.x - a.x)*(c.y - a.y) - (b.y - a.y)*(c.x - a.x) AS o
  FROM lp a
  JOIN lp b ON b.gbx = a.gbx AND b.gby = a.gby AND b.pid > a.pid
  JOIN lp c ON c.gbx = a.gbx AND c.gby = a.gby AND c.pid > b.pid
  WHERE (b.x - a.x)*(c.y - a.y) - (b.y - a.y)*(c.x - a.x) <> 0.0),
dtri AS (
  SELECT * FROM tri t
  WHERE NOT EXISTS (
          SELECT 1 FROM lp d
          WHERE d.gbx = t.gbx AND d.gby = t.gby
            AND d.pid NOT IN (t.pa, t.pb, t.pc) AND {inc_real})
    AND NOT EXISTS (
          SELECT 1 FROM supv s
          WHERE s.gbx = t.gbx AND s.gby = t.gby AND {inc_sup})),
cells AS (
  SELECT gbx, gby, gbx*4 + i AS bx, gby*4 + j AS by,
         (gbx*4 + i + 0.5)*10.0 AS qx, (gby*4 + j + 0.5)*10.0 AS qy
  FROM (SELECT DISTINCT gbx, gby FROM lp),
       (VALUES (0),(1),(2),(3)) ii(i), (VALUES (0),(1),(2),(3)) jj(j)),
m AS (
  SELECT c.bx, c.by, t.pa, t.pb, t.pc, t.az, t.bz, t.cz,
         ((t.by2 - t.cy2)*(c.qx - t.cx2) + (t.cx2 - t.bx2)*(c.qy - t.cy2))
           / ((t.by2 - t.cy2)*(t.ax - t.cx2) + (t.cx2 - t.bx2)*(t.ay - t.cy2)) AS l1,
         ((t.cy2 - t.ay)*(c.qx - t.cx2) + (t.ax - t.cx2)*(c.qy - t.cy2))
           / ((t.by2 - t.cy2)*(t.ax - t.cx2) + (t.cx2 - t.bx2)*(t.ay - t.cy2)) AS l2
  FROM cells c JOIN dtri t ON t.gbx = c.gbx AND t.gby = c.gby
  WHERE abs((t.by2 - t.cy2)*(t.ax - t.cx2) + (t.cx2 - t.bx2)*(t.ay - t.cy2)) >= 1e-300),
hit AS (
  SELECT bx, by, l1, l2, az, bz, cz,
         row_number() OVER (PARTITION BY bx, by ORDER BY pa, pb, pc) AS rn
  FROM m
  WHERE l1 >= -1e-9 AND l2 >= -1e-9 AND (1.0 - l1 - l2) >= -1e-9)
SELECT bx, by, round(l1*az + l2*bz + (1.0 - l1 - l2)*cz, 6) AS value
FROM hit WHERE rn = 1
"""


# ------------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship pipeline on sf0.001: pages -> tile_x/tile_y -> exact-PIP
    spatial join to polygons -> zoom 0-8 tile pyramid of join rows."""
    sf_dir = "/root/testdata/sf0.001"
    p = sjoin.with_tile(_pages(spark, sf_dir), zoom=8)
    joined = sjoin.spatial_join(p, _rect_polyset(), zoom=8, how="inner")
    pyr = tiles.tile_pyramid(joined, max_zoom=8, min_zoom=0)
    return pyr
