"""XYZ tile-pyramid materialization (gdal2tiles re-expressed as aggregation).

Reference semantics:
- base tiles at max zoom enumerate the tile range and render each tile from
  the source (osgeo_utils/gdal2tiles.py:2797 ``generate_base_tiles``);
- each overview tile (z-1, x, y) is built from its <=4 children at z via the
  x*2/y*2 shift (gdal2tiles.py:1471-1530 ``create_overview_tile``);
- tiles are independent tasks fanned out to a process pool
  (gdal2tiles.py:4503-4674) — i.e. the reference itself says this is
  embarrassingly parallel; Spark tasks over (z, x, y) are the same thing
  without the single-node ceiling;
- ``--resume`` skips tiles whose output already exists
  (gdal2tiles.py:1497-1500) — here: an anti-join against the committed
  output (snapshot-based resume, see resume_filter()).

Scale design: two shuffles. The first is the wide one: groupBy over the
already-cell-keyed points at the base zoom (map-side partial aggregation
does most of the work). The second explodes each base tile into its
ancestor at every zoom in [min_zoom, max_zoom] and sums the counts in one
groupBy(z, x, y), so every level comes from the finest cells in one
aggregation (as in GeoBlocks, EDBT 2021) with no cached level and no
union. Its cost: the explode produces (max_zoom - min_zoom + 1) x
base-tile rows (13x for z0-12), which the map-side partial aggregation
combines before the second shuffle; the points themselves are never
exploded. This design was measured only at benchmark scale (80k pages,
44k base tiles at z12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import built


def base_tiles(points: DataFrame, zoom: int) -> DataFrame:
    """Aggregate cell-keyed points (tile_x/tile_y columns from
    sjoin.with_tile) into base tiles at `zoom`; a point with a NULL tile
    (a NULL coordinate) is in no tile.

    Returns (z, x, y, n_pages).
    """
    has_tile, n_pages, *zxy = built(("tiles.base", zoom), lambda: (
        F.col("tile_x").isNotNull() & F.col("tile_y").isNotNull(),
        F.count(F.lit(1)).alias("n_pages"),
        F.lit(zoom).cast("int").alias("z"),
        F.col("tile_x").cast("long").alias("x"),
        F.col("tile_y").cast("long").alias("y")))
    return (points.filter(has_tile).groupBy("tile_x", "tile_y").agg(n_pages)
            .select(*zxy, "n_pages"))


def tile_pyramid(points: DataFrame, max_zoom: int = 14,
                 min_zoom: int = 0) -> DataFrame:
    """points (with tile_x/tile_y at max_zoom) -> (z, x, y, n_pages) for
    every zoom in [min_zoom, max_zoom].

    Parent tile (z-1, x>>1, y>>1) aggregates its <=4 children
    (gdal2tiles.py:1484-1486 child-shift semantics); a base tile's
    ancestor at zoom z is therefore (x >> s, y >> s) with
    s = max_zoom - z, and s = 0 keeps the base level itself.
    """
    if not 0 <= min_zoom <= max_zoom:
        raise ValueError(
            f"tile_pyramid: need 0 <= min_zoom <= max_zoom, "
            f"got {min_zoom}, {max_zoom}")
    shifts, z, x, y, n_pages = built(("tiles.pyramid", max_zoom, min_zoom), lambda: (
        F.explode(F.sequence(F.lit(0), F.lit(max_zoom - min_zoom))).alias("s"),
        (F.lit(max_zoom) - F.col("s")).cast("int").alias("z"),
        F.expr("shiftright(x, s)").alias("x"),
        F.expr("shiftright(y, s)").alias("y"),
        F.sum("n_pages").alias("n_pages")))
    return (
        base_tiles(points, max_zoom)
        .select(shifts, "x", "y", "n_pages")
        .select(z, x, y, "n_pages")
        .groupBy("z", "x", "y")
        .agg(n_pages)
    )


def write_pyramid(pyramid: DataFrame, path: str) -> None:
    """Materialize partitioned by z, replacing what is at `path` (the
    Iceberg-partition layout stand-in: partition column z, file-level
    min/max stats on x/y give pruning).

    Keeps the pyramid's existing hash partitioning (no extra shuffle) and
    sorts (z, x, y) within each task so every output file's row groups
    carry tight x/y min/max stats. partitionBy("z") splits the files per
    zoom directory regardless of task partitioning, so write parallelism
    stays at the task count, not the zoom count."""
    (
        pyramid.sortWithinPartitions("z", "x", "y")
        .write.mode("overwrite")
        .partitionBy("z")
        .parquet(path)
    )


def resume_filter(pyramid: DataFrame, committed_path: str) -> DataFrame:
    """Anti-join against already-committed tiles — the distributed analog of
    gdal2tiles.py:1497-1500 resume (skip tile if output exists). Committed
    partitions are read back from the sink; only missing (z,x,y) remain."""
    spark = pyramid.sparkSession
    try:
        done = spark.read.parquet(committed_path).select("z", "x", "y")
    except Exception:
        return pyramid  # nothing committed yet
    return pyramid.join(done, on=["z", "x", "y"], how="left_anti")


def render_png(base: DataFrame, z: int, *, pixel_zoom: int = 8,
               measure: str = "n_pages", mode: str = "gray") -> DataFrame:
    """gdal2tiles' actual product, distributed: one 2^pz x 2^pz
    grayscale PNG per tile at `z`, where pixel (px, py) is the clamped
    (<=255) measure of subtile (z+pz, (x<<pz)+px, (y<<pz)+py) — the
    heatmap recast of ``generate_base_tiles`` (gdal2tiles.py:2797):
    instead of resampling source windows per tile in a process pool,
    ONE groupBy ships each tile's subtile aggregates to its renderer
    (256x256 = at most 65 536 narrow rows per group).

    base: the tile frame at zoom z+pixel_zoom (z/x/y/<measure>).
    mode="gray" writes 8-bit grayscale; mode="rgba" writes the
    reference's actual tile format — RGBA with alpha 255 on data pixels
    and 0 (fully transparent) elsewhere (gdal2tiles adds the alpha band
    so empty tile area does not paint the map, gdal2tiles.py:2852
    tilebands = dataBandsCount + 1). Byte-band semantics: the measure
    clamps to [0, 255] and a 0-valued pixel is indistinguishable from
    absent (no nodata != 0 in a Byte band) — nnz counts NONZERO pixels,
    and a relational twin must count v > 0 rows, not all rows (the
    tile_render oracle's n_pages >= 1 makes the two coincide).
    Returns (z, x, y, png binary, nnz). PNG bytes come from the
    pure-stdlib encoder (sources/png.py:encode_png); bytes are
    deterministic for a given zlib but only DECODED PIXELS are the
    cross-version contract — hash pixels/checksums, never bytes.
    """
    from ..session import ship_package

    ship_package(base.sparkSession)
    n = 1 << pixel_zoom
    sub = (
        base.filter(F.col("z") == z + pixel_zoom)
        .select(
            F.shiftright(F.col("x"), pixel_zoom).alias("tx"),
            F.shiftright(F.col("y"), pixel_zoom).alias("ty"),
            (F.col("x") - (F.shiftright(F.col("x"), pixel_zoom)
                           * F.lit(n))).cast("int").alias("px"),
            (F.col("y") - (F.shiftright(F.col("y"), pixel_zoom)
                           * F.lit(n))).cast("int").alias("py"),
            # clamp to the Byte range BOTH ways: a negative measure
            # would otherwise wrap through uint8 (-1 -> 255)
            F.greatest(F.lit(0), F.least(F.col(measure), F.lit(255)))
            .cast("int").alias("v"),
        )
    )

    if mode not in ("gray", "rgba"):
        raise ValueError(f"render_png: unknown mode {mode!r}")

    def _render(pdf):
        import numpy as np
        import pandas as pd
        from lib_gdal_spark.sources.png import encode_png

        arr = np.zeros((n, n), dtype=np.uint8)
        arr[pdf["py"].to_numpy(), pdf["px"].to_numpy()] = \
            pdf["v"].to_numpy().astype(np.uint8)
        nnz = int((arr != 0).sum())
        if mode == "rgba":
            img = np.zeros((n, n, 4), dtype=np.uint8)
            img[:, :, 0] = img[:, :, 1] = img[:, :, 2] = arr
            img[:, :, 3] = np.where(arr != 0, 255, 0).astype(np.uint8)
        else:
            img = arr
        return pd.DataFrame({
            "z": [z], "x": [int(pdf["tx"].iloc[0])],
            "y": [int(pdf["ty"].iloc[0])],
            "png": [encode_png(img)],
            "nnz": [nnz],
        })

    return sub.groupBy("tx", "ty").applyInPandas(
        _render, "z int, x long, y long, png binary, nnz long")


def render_checksums(base: DataFrame, z: int, *, pixel_zoom: int = 8,
                     measure: str = "n_pages") -> DataFrame:
    """render_png -> decode each tile back -> GDALChecksumImage over the
    full pixel grid (the canonical raster.checksum formula: row-major
    idx % 11 into the prime table, sum of v % prime, & 0xFFFF). The
    encode/decode cycle runs INSIDE the job, so a green oracle row
    certifies the whole PNG codec path, not just the aggregation.
    Returns (x, y, checksum, nnz)."""
    from ..session import ship_package

    ship_package(base.sparkSession)
    rendered = render_png(base, z, pixel_zoom=pixel_zoom, measure=measure)

    def _cksum(it):
        import numpy as np
        import pandas as pd
        from lib_gdal_spark.operators.raster import CHECKSUM_PRIMES
        from lib_gdal_spark.sources.png import decode_png

        primes = np.array(CHECKSUM_PRIMES, dtype=np.int64)
        for pdf in it:
            out = []
            for _, r in pdf.iterrows():
                arr, _meta = decode_png(bytes(r["png"]))
                v = arr.astype(np.int64).ravel()  # row-major top-down
                idx = np.arange(v.size, dtype=np.int64) % 11
                cs = int((v % primes[idx]).sum()) & 0xFFFF
                out.append((int(r["x"]), int(r["y"]), cs,
                            int((v != 0).sum())))
            yield pd.DataFrame(out, columns=["x", "y", "checksum", "nnz"])

    return rendered.mapInPandas(
        _cksum, "x long, y long, checksum long, nnz long")


def write_png_tiles(base: DataFrame, out_dir: str, zooms,
                    *, pixel_zoom: int = 8,
                    measure: str = "n_pages",
                    mode: str = "gray",
                    manifest_path: str | None = None,
                    resume: bool = False) -> DataFrame:
    """The gdal2tiles output contract: <out_dir>/<z>/<x>/<y>.png on a
    shared filesystem, one file per rendered tile (the reference's
    process-pool writers, gdal2tiles.py:4503 — here each Spark task
    writes its own tiles). Requires the base tile frame to carry zooms
    z+pixel_zoom for every requested z (tile_pyramid provides all).

    Returns the MANIFEST (z, x, y, path, n_bytes, nnz).
    Eagerly materialized (the writes are the point); local-mode writes
    land on the local fs, cluster mode needs out_dir on shared storage,
    same as gdal2tiles itself. mode passes through to render_png
    ("rgba" = the reference's transparent-alpha tiles).

    manifest_path: parquet table the manifest is APPENDED to after the
    writes land — the metadata-table commit. resume=True anti-joins the
    render against that committed manifest on the narrow (z, x, y) key
    BEFORE any PNG is encoded (gdal2tiles --resume,
    gdal2tiles.py:1497-1500 — but keyed on the committed manifest, not
    an ls of the output tree, so a tile half-written by a killed task
    is re-rendered). The returned manifest then covers only the NEW
    tiles of this run."""
    import pandas as pd

    from ..session import ship_package

    zooms = list(zooms)
    if not zooms:
        raise ValueError("write_png_tiles: zooms is empty")
    ship_package(base.sparkSession)
    # each zoom's render branch scans the shared base: persist it for
    # the union or every branch re-evaluates the whole upstream
    # (CLAUDE.md union rule); the manifest's localCheckpoint below is
    # eager, so the unpersist after it is safe
    release = False
    if len(zooms) > 1 and base.storageLevel.useMemory is False:
        base = base.persist()
        release = True
    rendered = None
    for z in zooms:
        r = render_png(base, z, pixel_zoom=pixel_zoom, measure=measure,
                       mode=mode)
        rendered = r if rendered is None else rendered.unionByName(r)
    if resume:
        if manifest_path is None:
            raise ValueError("resume=True needs manifest_path")
        import os as _os
        if _os.path.exists(manifest_path):
            committed = (base.sparkSession.read.parquet(manifest_path)
                         .select("z", "x", "y"))
            rendered = rendered.join(committed, on=["z", "x", "y"],
                                     how="left_anti")

    def _write(it):
        import os
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                d = os.path.join(out_dir, str(int(r["z"])), str(int(r["x"])))
                os.makedirs(d, exist_ok=True)
                p = os.path.join(d, f"{int(r['y'])}.png")
                buf = bytes(r["png"])
                with open(p, "wb") as f:
                    f.write(buf)
                rows.append((int(r["z"]), int(r["x"]), int(r["y"]),
                             p, len(buf), int(r["nnz"])))
            yield pd.DataFrame(rows, columns=[
                "z", "x", "y", "path", "n_bytes", "nnz"])

    manifest = rendered.mapInPandas(
        _write, "z int, x long, y long, path string, n_bytes long, nnz long")
    manifest = manifest.localCheckpoint()  # eager: perform the writes NOW
    if manifest_path is not None:
        # commit AFTER the tile files landed: a kill between the writes
        # and this append re-renders those tiles next run (idempotent —
        # same bytes to the same paths), never skips a half-written one
        manifest.write.mode("append").parquet(manifest_path)
    if release:
        base.unpersist()
    return manifest
