"""WebMercator (EPSG:3857) tile math with exact GlobalMercator parity.

Semantics re-derived from the reference's published tile mathematics
(/root/reference/swig/python/gdal-utils/osgeo_utils/gdal2tiles.py:417-503,
class GlobalMercator):

- ``origin_shift``        = 2*pi*6378137/2 = 20037508.342789244   (:418)
- ``initial_resolution``  = 2*pi*6378137/256 = 156543.03392804062 (:417)
- LatLonToMeters          (:422-429)
- MetersToPixels          (:452-457)  px = (mx + origin_shift)/res
- PixelsToTile            (:460-465)  tile = ceil(px/256) - 1   <-- NOT floor;
  a point landing exactly on a tile's left/bottom edge belongs to the tile
  on the LEFT/BELOW. This ceil-minus-one rule is preserved bit-for-bit.
- Resolution(z)           (:497-501)  initial_resolution / 2**z
- TMS <-> XYZ y flip      y_xyz = 2**z - 1 - ty_tms (gdal2tiles GetYTile)

Two implementations of every function:
- ``*_np``  : vectorized NumPy (used inside Arrow/pandas UDF kernels and by
              the pure-pandas golden oracle).
- ``*_col`` : Spark Column expressions (JVM-side, whole-stage-codegen'd; the
              hot path never leaves the JVM).

Everything is float64; tile indices are int64.
"""

from __future__ import annotations

import math

import numpy as np

try:  # Column helpers are optional so the kernel lib imports Spark-free
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    from ..session import built
except Exception:  # pragma: no cover
    F = None

EARTH_RADIUS = 6378137.0
ORIGIN_SHIFT = 2.0 * math.pi * EARTH_RADIUS / 2.0  # 20037508.342789244
INITIAL_RESOLUTION = 2.0 * math.pi * EARTH_RADIUS / 256.0  # 156543.03392804062
TILE_SIZE = 256
# WebMercator latitude domain: atan(sinh(pi)) in degrees
MAX_LAT = 85.05112877980659
MIN_LAT = -MAX_LAT


def resolution(zoom: int) -> float:
    """Meters/pixel at zoom (gdal2tiles.py:497-501)."""
    return INITIAL_RESOLUTION / (2 ** zoom)


# ---------------------------------------------------------------- NumPy side

def lonlat_to_meters_np(lon: np.ndarray, lat: np.ndarray):
    """EPSG:4326 -> EPSG:3857 (gdal2tiles.py:422-429).

    Operation ORDER matters at the last ulp: this kernel, the Catalyst
    column form (meters_x_col) and the duckdb oracle all multiply by the
    precomputed quotients (ORIGIN_SHIFT/180, pi/360) so a coordinate
    sitting exactly on a tile edge lands in the same tile everywhere —
    multiply-then-divide disagreed one tile at exact boundaries."""
    mx = np.asarray(lon, dtype=np.float64) * (ORIGIN_SHIFT / 180.0)
    my = np.log(np.tan((90.0 + np.asarray(lat, dtype=np.float64)) * (math.pi / 360.0))) / (
        math.pi / 180.0
    )
    my = my * (ORIGIN_SHIFT / 180.0)
    return mx, my


def meters_to_lonlat_np(mx: np.ndarray, my: np.ndarray):
    """EPSG:3857 -> EPSG:4326 (gdal2tiles.py:431-440 MetersToLatLon)."""
    lon = np.asarray(mx, dtype=np.float64) / ORIGIN_SHIFT * 180.0
    lat = np.asarray(my, dtype=np.float64) / ORIGIN_SHIFT * 180.0
    lat = 180.0 / math.pi * (2.0 * np.arctan(np.exp(lat * math.pi / 180.0)) - math.pi / 2.0)
    return lon, lat


def meters_to_pixels_np(mx, my, zoom: int):
    """(gdal2tiles.py:452-457)."""
    res = resolution(zoom)
    px = (np.asarray(mx, dtype=np.float64) + ORIGIN_SHIFT) / res
    py = (np.asarray(my, dtype=np.float64) + ORIGIN_SHIFT) / res
    return px, py


def pixels_to_tile_np(px, py):
    """ceil(p/256)-1 rule (gdal2tiles.py:460-465); TMS tile coords."""
    tx = (np.ceil(np.asarray(px, dtype=np.float64) / TILE_SIZE) - 1).astype(np.int64)
    ty = (np.ceil(np.asarray(py, dtype=np.float64) / TILE_SIZE) - 1).astype(np.int64)
    return tx, ty


def lonlat_to_tile_np(lon, lat, zoom: int):
    """lon/lat -> XYZ (tx, ty) tile indices, clamped to [0, 2^z-1]: the
    TMS row flipped to a top-left origin (gdal2tiles GetYTile)."""
    mx, my = lonlat_to_meters_np(lon, lat)
    px, py = meters_to_pixels_np(mx, my, zoom)
    tx, ty = pixels_to_tile_np(px, py)
    n = np.int64(2 ** zoom)
    tx = np.clip(tx, 0, n - 1)
    ty = n - 1 - np.clip(ty, 0, n - 1)
    return tx, ty


def tile_bounds_meters_np(tx, ty_tms, zoom: int):
    """TMS tile -> (minx, miny, maxx, maxy) in meters (gdal2tiles.py:479-486)."""
    res = resolution(zoom)
    tx = np.asarray(tx, dtype=np.float64)
    ty = np.asarray(ty_tms, dtype=np.float64)
    minx = tx * TILE_SIZE * res - ORIGIN_SHIFT
    miny = ty * TILE_SIZE * res - ORIGIN_SHIFT
    maxx = (tx + 1) * TILE_SIZE * res - ORIGIN_SHIFT
    maxy = (ty + 1) * TILE_SIZE * res - ORIGIN_SHIFT
    return minx, miny, maxx, maxy


def tile_bounds_lonlat_np(tx, ty_xyz, zoom: int):
    """XYZ tile -> (lon_min, lat_min, lon_max, lat_max) in EPSG:4326."""
    n = 2 ** zoom
    ty_tms = n - 1 - np.asarray(ty_xyz, dtype=np.int64)
    minx, miny, maxx, maxy = tile_bounds_meters_np(tx, ty_tms, zoom)
    lon0, lat0 = meters_to_lonlat_np(minx, miny)
    lon1, lat1 = meters_to_lonlat_np(maxx, maxy)
    return lon0, lat0, lon1, lat1


def zoom_for_pixel_size(pixel_size: float) -> int:
    """Max zoom whose resolution >= pixel_size (gdal2tiles.py:503-510)."""
    for i in range(30):
        if pixel_size > resolution(i):
            return max(0, i - 1)
    return 29


# --------------------------------------------------------------- Column side

def meters_x_col(lon: "Column") -> "Column":
    return lon * F.lit(ORIGIN_SHIFT / 180.0)


def meters_y_col(lat: "Column") -> "Column":
    return (
        F.log(F.tan((F.lit(90.0) + lat) * F.lit(math.pi / 360.0)))
        / F.lit(math.pi / 180.0)
        * F.lit(ORIGIN_SHIFT / 180.0)
    )


def _clamped(coord: str, t: "Column", zoom: int) -> "Column":
    """t clamped to [0, 2^z-1], NULL where `coord` is NULL: greatest and
    least skip a NULL argument, so a NULL t alone would clamp to a real
    tile."""
    clamp = F.greatest(F.lit(0), F.least(t, F.lit(2 ** zoom - 1)))
    return F.when(F.col(coord).isNotNull(), clamp)


def tile_x_col(lon: str, zoom: int) -> "Column":
    """XYZ tile x of the lon column `lon`; ceil-minus-one rule, clamped to
    [0, 2^z-1]; NULL for a NULL lon. Built once per (lon, zoom)."""
    def build():
        px = (meters_x_col(F.col(lon)) + F.lit(ORIGIN_SHIFT)) / F.lit(resolution(zoom))
        tx = (F.ceil(px / F.lit(float(TILE_SIZE))) - 1).cast("long")
        return _clamped(lon, tx, zoom)
    return built(("mercator.tile_x", lon, zoom), build)


def tile_size_meters(zoom: int) -> float:
    """Meters spanned by one tile edge at `zoom`."""
    return TILE_SIZE * resolution(zoom)


def tile_center_lon_col(x: "Column", zoom: int) -> "Column":
    """Lon of the CENTER of XYZ tile column x — inverse of tile_x_col.
    Pure +-*/ (exact cross-engine given the same injected constants):
    lon = ((x + 0.5) * tile_size_m - ORIGIN_SHIFT) / ORIGIN_SHIFT * 180."""
    s = tile_size_meters(zoom)
    return (
        (x.cast("double") + F.lit(0.5)) * F.lit(s) - F.lit(ORIGIN_SHIFT)
    ) / F.lit(ORIGIN_SHIFT) * F.lit(180.0)


def tile_center_lat_col(y: "Column", zoom: int) -> "Column":
    """Lat of the CENTER of XYZ tile row y — inverse Mercator
    (gdal2tiles.py:431-440 MetersToLatLon), with the TMS flip folded
    into my = ORIGIN_SHIFT - (y + 0.5) * tile_size_m.

    TRANSCENDENTAL (atan/exp): engines may differ in the last ulp, so
    downstream use must be ulp-tolerant — index arithmetic (floor into a
    coarse source grid) or rounded weighted folds, never exact equality.
    The duckdb twin (_dd_tile_center_lat in __spark_entry__) mirrors this
    op order term by term."""
    s = tile_size_meters(zoom)
    my = F.lit(ORIGIN_SHIFT) - (y.cast("double") + F.lit(0.5)) * F.lit(s)
    inner = my / F.lit(ORIGIN_SHIFT) * F.lit(180.0)
    return (
        F.lit(2.0) * F.atan(F.exp(inner * F.lit(math.pi / 180.0)))
        - F.lit(math.pi / 2.0)
    ) * F.lit(180.0 / math.pi)


def tile_y_col(lat: str, zoom: int) -> "Column":
    """XYZ tile y of the lat column `lat`: the TMS row by the
    ceil-minus-one rule, clamped to [0, 2^z-1], then flipped (gdal2tiles
    GetYTile); NULL for a NULL lat. Built once per (lat, zoom)."""
    def build():
        py = (meters_y_col(F.col(lat)) + F.lit(ORIGIN_SHIFT)) / F.lit(resolution(zoom))
        ty = (F.ceil(py / F.lit(float(TILE_SIZE))) - 1).cast("long")
        return F.lit(2 ** zoom - 1) - _clamped(lat, ty, zoom)
    return built(("mercator.tile_y", lat, zoom), build)
